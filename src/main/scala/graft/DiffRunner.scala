package graft

import graft.kernel._
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Kernel-side differential-test runner: emits the same md5-fingerprint
  * records as tools/ref_runner.js (which drives the transpiled reference
  * engine), so tools/diff_check.py can compare every observable output —
  * validity, serialization, extraction, structure, JSON shape, selector
  * results, mutation paths, attribute maps — over the fuzz corpus.
  *
  * Records are field lists serialized at the end: an exception anywhere
  * mid-computation still yields a VALID JSON record carrying "error"
  * (matching ref_runner.js), so one kernel throw reports as
  * "kernel-error-only" instead of corrupting the whole output file.
  *
  *   runMain graft.tools.Main diff <inputDir> <out.json>
  */
object DiffRunner {

  private def md5(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  private val optionSets: Seq[(String, ParseOptions)] = Seq(
    "default" -> ParseOptions(),
    "comment" -> ParseOptions(comment = true),
    "all" -> ParseOptions(comment = true, script = true, style = true, pre = true),
    "lower" -> ParseOptions(lowerCaseTagName = true))

  private val selectors: Seq[String] = Seq(
    "div", "p", "a", "span", "#x1", ".c2", "div p", "[href]",
    "[class~=\"d3\"]", "a[href^=\"https://\"]", "li", "*", "div, span",
    "#x1 span", "[attr=\">\"]", "ul li", "td", "my-widget", "ns:tag", "[id]")

  private def q(s: String) = JsonUtil.quote(s)

  private def attrsJson(m: java.util.LinkedHashMap[String, String]): String = {
    val sb = new java.lang.StringBuilder("{")
    val it = m.entrySet().iterator()
    var first = true
    while (it.hasNext) {
      val e = it.next()
      if (!first) sb.append(',')
      first = false
      sb.append(q(e.getKey)).append(':').append(q(e.getValue))
    }
    sb.append('}').toString
  }

  def recordsFor(file: String, data: String): Seq[String] =
    optionSets.map { case (oname, opts) =>
      // fields collected first, serialized once at the end — an exception
      // mid-computation must still yield a VALID JSON record (with "error"),
      // matching ref_runner.js; otherwise one kernel throw corrupts the file
      val fields = ArrayBuffer[(String, String)](
        "file" -> q(file), "opts" -> q(oname))
      try {
        val root = HtmlParser.parse(data, opts)
        fields += ("valid" -> root.valid.toString)
        fields += ("outer" -> q(md5(root.toHtml)))
        fields += ("structured" -> q(md5(root.structuredText)))
        fields += ("text" -> q(md5(root.text)))
        fields += ("rawText" -> q(md5(root.rawText)))
        fields += ("structure" -> q(md5(root.structure)))
        fields += ("json" -> q(md5(root.toJsonString)))
        val sel = allSelectors.map { s =>
          val all = root.querySelectorAll(s)
          val first = root.querySelector(s)
          q(s) + ":[" + all.length + "," + q(md5(all.map(_.toHtml).mkString(" "))) +
            "," + first.map(e => q(md5(e.toHtml))).getOrElse(q("null")) + "]"
        }.mkString("{", ",", "}")
        fields += ("sel" -> sel)
        val r2 = HtmlParser.parse(data, opts)
        r2.removeWhitespace()
        fields += ("removeWs" -> q(md5(r2.toHtml)))
        root.childNodes.collectFirst { case e: Element => e }.foreach { el =>
          fields += ("attrs" -> q(md5(attrsJson(el.attributes))))
          fields += ("rawAttrs" -> q(md5(attrsJson(el.rawAttributes))))
          fields += ("idClass" -> q(md5(el.id + " " + el.classNames.mkString(","))))
        }
        // mutation chain on a fresh parse (mirrors ref_runner.js)
        val r3 = HtmlParser.parse(data, opts)
        r3.childNodes.collectFirst { case e: Element => e }.foreach { el3 =>
          el3.setAttribute("data-mut", "v<&\"1")
          el3.setAttribute("id", "mut-id")
          el3.setAttribute("bare", "")
          el3.removeAttribute("class")
          fields += ("mutAttr" ->
            q(md5(r3.toHtml + "|" + el3.id + "|" + el3.classNames.mkString(","))))
          el3.innerHTML = "<p class=\"q\">rep &amp; laced</p>"
          fields += ("mutInner" -> q(md5(r3.toHtml)))
          el3.setContent("plain text only")
          fields += ("mutContent" -> q(md5(r3.toHtml)))
        }
        val r4 = HtmlParser.parse(data, opts)
        r4.trimRight("[aeiou]".r)
        fields += ("mutTrim" -> q(md5(r4.toHtml)))
      } catch {
        case e: Throwable =>
          fields += ("error" -> q(e.toString.take(200)))
      }
      fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    }

  @volatile private var extraSelectors: Seq[String] = Seq.empty
  private def allSelectors: Seq[String] = selectors ++ extraSelectors

  def run(args: Array[String]): Int = {
    val dir = Paths.get(args(0))
    val out = args(1)
    val selFile = dir.resolve("selectors.txt")
    if (Files.exists(selFile))
      extraSelectors = Files.readString(selFile).split('\n').toSeq.filter(_.nonEmpty)
    val stream = Files.list(dir)
    val files =
      try stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".html"))
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    val records = files.flatMap { p =>
      val data = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
      recordsFor(p.getFileName.toString, data)
    }
    Files.writeString(Paths.get(out), records.mkString("[", ",", "]"))
    println(s"wrote ${records.length} records to $out")
    0
  }
}
