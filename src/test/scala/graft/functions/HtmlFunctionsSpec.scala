package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.{HtmlParser, Query}

/** The kernel-backed SQL functions and their shared parse (`parsed`, a
  * one-entry per-thread memo): separate documents never share a tree,
  * equal content does, nulls keep their rules, a mutating function never
  * sees a shared tree, and a many-column projection equals its columns run
  * one by one.
  */
class HtmlFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .appName("html-functions-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    HtmlFunctions.register(s)
    GraftExtensions.register(s)
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def countNative(html: Column, sel: String): Column =
    call_function("css_count_native", html, lit(sel))

  test("two documents alternating on one thread each get their own counts") {
    val a = "<ul><li>1</li><li>2</li></ul>"
    val b = "<ul><li>1</li></ul><p>x</p>"
    (1 to 3).foreach { _ =>
      assert(HtmlFunctions.cssCountKernel(a, "li") == 2)
      assert(HtmlFunctions.cssCountKernel(b, "li") == 1)
      assert(HtmlFunctions.cssCountKernel(a, "p") == 0)
      assert(HtmlFunctions.cssCountKernel(b, "p") == 1)
      assert(HtmlCssCount.count(UTF8String.fromString(a), UTF8String.fromString("li")) == 2)
      assert(HtmlCssCount.count(UTF8String.fromString(b), UTF8String.fromString("li")) == 1)
    }
    import spark.implicits._
    val rows = Seq((1, a), (2, b), (3, a), (4, b)).toDF("id", "h")
      .select(col("id"), countNative(col("h"), "li"), countNative(col("h"), "p"))
      .orderBy("id").collect().map(r => (r.getInt(1), r.getInt(2))).toSeq
    assert(rows == Seq((2, 0), (1, 1), (2, 0), (1, 1)))
  }

  test("equal content in two distinct String objects gives the same tree") {
    val a1 = "<div><p>same</p></div>"
    val a2 = new String(a1.toCharArray)
    assert(a1 ne a2)
    val t1 = HtmlFunctions.parsed(a1)
    assert(HtmlFunctions.parsed(a2) eq t1)
    val other = HtmlFunctions.parsed("<div><p>other</p></div>")
    assert(other ne t1)
    assert(other.toHtml == "<div><p>other</p></div>")
    val t2 = HtmlFunctions.parsed(a2)
    assert(t2 ne t1)
    assert(t2.toHtml == a1)
  }

  test("the memo is per thread: another thread parses its own tree") {
    val h = "<div><p>threads</p></div>"
    val here = HtmlFunctions.parsed(h)
    @volatile var there: AnyRef = null
    val t = new Thread(() => there = HtmlFunctions.parsed(h))
    t.start()
    t.join()
    assert(there != null && (there ne here))
    assert(HtmlFunctions.parsed(h) eq here)
  }

  test("null HTML still gives 0 / null") {
    assert(HtmlFunctions.cssCountKernel(null, "p") == 0)
    val r = spark.sql(
      """SELECT css_count(CAST(NULL AS STRING), 'p') AS n0,
        |       css_count('<p>x</p>', CAST(NULL AS STRING)) AS n1,
        |       css_count_native(CAST(NULL AS STRING), 'p') AS n2,
        |       css_first_text(CAST(NULL AS STRING), 'p') AS t,
        |       css_first_attr(CAST(NULL AS STRING), 'a', 'href') AS h,
        |       html_text(CAST(NULL AS STRING)) AS s,
        |       html_outer(CAST(NULL AS STRING)) AS o,
        |       html_valid(CAST(NULL AS STRING)) AS v
        |""".stripMargin).collect().head
    assert(r.getInt(0) == 0)
    assert(r.isNullAt(1))
    assert(r.getInt(2) == 0)
    (3 to 6).foreach(i => assert(r.isNullAt(i), s"column $i"))
    assert(!r.getBoolean(7))
    // a null row between two equal documents, through generated code
    import spark.implicits._
    val doc = "<p>a</p><p>b</p>"
    val counts = Seq((1, doc), (2, null), (3, doc)).toDF("id", "h")
      .select(col("id"), countNative(col("h"), "p"), HtmlFunctions.cssFirstText(col("h"), lit("p")))
      .orderBy("id").collect().map(r => (r.getInt(1), Option(r.getString(2)))).toSeq
    assert(counts == Seq((2, Some("a")), (0, None), (2, Some("a"))))
  }

  test("mutateDemo between two css_first_text calls does not change the second result") {
    import spark.implicits._
    val html = "<div> <p> hi </p> </div>"
    // "p" and "div p" select the same element but are distinct expressions,
    // so neither is folded into the other
    val r = Seq(html).toDF("h").select(
      HtmlFunctions.cssFirstText(col("h"), lit("p")),
      HtmlFunctions.cssFirstAttr(col("h"), lit("div"), lit("k")),
      HtmlFunctions.mutateDemo(col("h"), lit("k"), lit("v")),
      HtmlFunctions.cssFirstText(col("h"), lit("div p")),
      HtmlFunctions.cssFirstAttr(col("h"), lit("div p, div"), lit("k")),
      countNative(col("h"), "div[k]")).collect().head
    assert(r.getString(0) == " hi ")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "<div k=\"v\"><p>hi</p></div>")
    assert(r.getString(3) == " hi ")
    assert(r.isNullAt(4))
    assert(r.getInt(5) == 0)
  }

  private val Selectors = Seq(
    "a", "#main", ".c3", "div.c1.c2", "[data-k]", "[data-k=v2]", "li[data-k!=v2]",
    "[href^=https]", "[href$=.html]", "[title*=lo]", "[lang|=en]", "[rel~=nofollow]",
    "section li a", "span.c2, a[rel~=nofollow]")

  /** A small element-dense page: nested containers, classes, ids and the
    * attributes the selectors above test.
    */
  private def densePage(r: scala.util.Random): String = {
    val tags = Array("div", "section", "ul", "li", "a", "span", "p", "article")
    val ids = Array("main", "nav", "side", "x1")
    val titles = Array("hello", "lorem", "slow", "plain")
    val langs = Array("en", "en-US", "fr", "english")
    val rels = Array("nofollow", "noopener nofollow", "me")
    val sb = new StringBuilder("<html><body>")
    def el(depth: Int): Unit = {
      val tag = tags(r.nextInt(tags.length))
      sb.append('<').append(tag)
      if (r.nextInt(6) == 0) sb.append(" id=\"").append(ids(r.nextInt(ids.length))).append('"')
      if (r.nextInt(2) == 0)
        sb.append(" class=\"").append(Seq.fill(1 + r.nextInt(3))("c" + (1 + r.nextInt(4))).mkString(" ")).append('"')
      if (r.nextInt(3) == 0) sb.append(" data-k=\"v").append(r.nextInt(4)).append('"')
      if (tag == "a") {
        sb.append(" href=\"").append(if (r.nextBoolean()) "https" else "http")
          .append("://h/p").append(r.nextInt(9)).append(if (r.nextBoolean()) ".html" else "/").append('"')
        if (r.nextInt(3) == 0) sb.append(" rel=\"").append(rels(r.nextInt(rels.length))).append('"')
      }
      if (r.nextInt(5) == 0) sb.append(" title=\"").append(titles(r.nextInt(titles.length))).append('"')
      if (r.nextInt(5) == 0) sb.append(" lang=\"").append(langs(r.nextInt(langs.length))).append('"')
      sb.append('>')
      if (depth < 7) (0 until r.nextInt(4)).foreach(_ => el(depth + 1))
      if (r.nextBoolean()) sb.append("t").append(r.nextInt(100))
      sb.append("</").append(tag).append('>')
    }
    (0 until 3 + r.nextInt(4)).foreach(_ => el(0))
    sb.append("</body></html>").toString
  }

  test("dense pages: one projection of 14 css_count_native columns equals 14 one-column projections") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    // every fifth page repeats its predecessor and every 13th is null, so
    // equal neighbours and null rows both sit between distinct documents
    val docs = (0 until 240).foldLeft(Vector.empty[(Long, String)]) { (acc, i) =>
      val h =
        if (i % 13 == 12) null
        else if (i % 5 == 4 && acc.last._2 != null) acc.last._2
        else densePage(r)
      acc :+ (i.toLong -> h)
    }
    val rows = docs.map { case (id, h) => (id, if (h == null) null else h.getBytes("UTF-8")) }
    val pages = spark.sparkContext.parallelize(rows, 4).toDF("doc_id", "html")
    assert(pages.rdd.getNumPartitions >= 2)
    val html = col("html").cast("string")

    val wide = pages.select(col("doc_id") +: Selectors.map(countNative(html, _)): _*).collect()
      .map(r => r.getLong(0) -> Selectors.indices.map(i => r.getInt(i + 1))).toMap
    val narrow = Selectors.map { s =>
      pages.select(col("doc_id"), countNative(html, s)).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    // a fresh parse per document and selector, outside Spark and the memo
    val direct = docs.map { case (id, h) =>
      id -> Selectors.map(s =>
        if (h == null) 0 else Query.querySelectorAll(HtmlParser.parse(h), Query.compileUnion(s)).length)
    }.toMap

    assert(wide.size == docs.size)
    docs.foreach { case (id, _) =>
      Selectors.indices.foreach { i =>
        assert(wide(id)(i) == narrow(i)(id), s"doc $id selector ${Selectors(i)}")
        assert(wide(id)(i) == direct(id)(i), s"doc $id selector ${Selectors(i)}")
      }
    }
    Selectors.indices.foreach(i => assert(docs.map(d => direct(d._1)(i)).sum > 0, Selectors(i)))
  }
}
