package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One generated input row of the `pages` table. */
final case class GenPage(docId: Long, url: String, ts: Long, html: String,
    lang: String)

/** What a generator hands over: the rows the program reads, the values the
  * output checks compare against, and the input properties a later claim may
  * need to report its share of.
  */
final case class Generated(pages: IndexedSeq[GenPage],
    expect: Map[String, Long], props: Map[String, Double])

/** Seeded input generators, one per workload. The same seed always yields
  * the same tables; sizes are drawn by stratified sampling of a fixed
  * distribution, so a different seed changes content but keeps the size
  * profile (and so the per-pass cost) nearly the same.
  */
object Gen {
  // ---- shared helpers ----

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** A fixed pseudo-word vocabulary (independent of the seed). */
  val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(4096)(randomToken(r, 2 + r.nextInt(8)))
  }

  def randomToken(r: SplittableRandom, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(Letters.charAt(r.nextInt(26))); i += 1 }
    sb.toString
  }

  def word(r: SplittableRandom): String = Vocab(r.nextInt(Vocab.length))

  /** Acklam's rational approximation of the standard normal quantile. */
  def normalQuantile(p0: Double): Double = {
    val p = math.min(math.max(p0, 1e-12), 1 - 1e-12)
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02, -3.066479806614716e+01,
      2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549671010115819e+00, 4.374664141464968e+00,
      2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val lo = 0.02425
    if (p < lo) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p > 1 - lo) {
      -normalQuantile(1 - p)
    } else {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }

  /** n stratified draws of `quantile`, shuffled: one draw per 1/n slice of
    * the distribution, so the multiset of values barely depends on the seed.
    */
  def stratified(r: SplittableRandom, n: Int)(quantile: Double => Double): Array[Double] = {
    val out = Array.tabulate(n)(i => quantile((i + r.nextDouble()) / n))
    shuffle(r, out)
    out
  }

  def shuffle[T](r: SplittableRandom, a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "ja")

  /** Half of all pages land on host-0 (the skew `Synth` plants). */
  def host(r: SplittableRandom): Int = if (r.nextBoolean()) 0 else 1 + r.nextInt(49)

  def lang(r: SplittableRandom): String = Langs(r.nextInt(Langs.length))

  /** Ten days of capture times, so hour buckets spread over the range. */
  def timestamp(r: SplittableRandom): Long = 1704067200L + r.nextInt(864000)

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  def quantiles(xs: Seq[Double]): Map[String, Double] = {
    val s = xs.sorted
    def q(p: Double) = if (s.isEmpty) 0.0 else s(math.min(s.length - 1, (p * s.length).toInt))
    Map("p10" -> q(0.10), "p50" -> q(0.50), "p90" -> q(0.90), "p99" -> q(0.99),
      "max" -> (if (s.isEmpty) 0.0 else s.last))
  }

  /** Properties every run records: doc count, bytes, size quantiles,
    * raw-text share, malformed share, duplicate share, max depth and host
    * skew, so a claim that depends on one of them can report its share.
    */
  def commonProps(pages: IndexedSeq[GenPage], rawTextBytes: Long,
      malformed: Int, duplicates: Int, maxDepth: Int): Map[String, Double] = {
    val sizes = pages.map(_.html.getBytes(UTF_8).length.toDouble)
    val bytes = sizes.sum
    val hosts = pages.groupBy(p => p.url.split('/')(2)).values.map(_.size)
    Map(
      "docs" -> pages.size.toDouble,
      "bytes" -> bytes,
      "raw_text_share" -> rawTextBytes / math.max(bytes, 1.0),
      "malformed_share" -> malformed.toDouble / pages.size,
      "duplicate_share" -> duplicates.toDouble / pages.size,
      "max_depth" -> maxDepth.toDouble,
      "host_skew" -> hosts.max.toDouble / pages.size) ++
      quantiles(sizes).map { case (k, v) => s"size_$k" -> v }
  }

  // ---- crawl_extract ----

  /** Common-Crawl-shaped pages: heavy-tailed sizes (log-normal, median
    * 24 KB, capped at 512 KB), a mix of tag-dense markup, script/style raw
    * text, entity-rich prose and some deep nesting. One page in seven is
    * malformed (unclosed `div`/`h3`, as in `Synth`: doc_id % 7 == 0); pages
    * with doc_id % 8 == 3 that are not malformed are "planted" with plain
    * paragraphs whose `structuredText` the generator knows exactly.
    *
    * The size spread, the cap, the page-kind mix and the deep-nesting share
    * are assumptions, not fitted to a crawl sample (README.md lists them).
    * Deep pages stay modest: 33-63 levels, just past the depth of 32 that
    * Lighthouse's "Avoid an excessive DOM size" audit flags, and under the
    * 64 ancestors `ExtractJob.explodeNodes` keeps.
    */
  object Crawl {
    private val Entities = Array(("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
      ("&quot;", "\""), ("&#39;", "'"), ("&eacute;", "é"), ("&copy;", "©"),
      ("&#x263A;", "☺"), ("&mdash;", "—"))

    private val TagDense = 0
    private val ScriptHeavy = 1
    private val Prose = 2
    private val Deep = 3

    /** Page kind by id, out of 20: 9 tag-dense (45%), 4 script-heavy (20%),
      * 6 prose (30%), 1 deep (5%).
      */
    private def kindOf(id: Int): Int = {
      val k = (id * 7919) % 20
      if (k < 9) TagDense else if (k < 13) ScriptHeavy else if (k < 19) Prose else Deep
    }

    def generate(seed: Long, n: Int): Generated = {
      val r = new SplittableRandom(seed * 1000003L + 11)
      // sizes are stratified within each class of page (malformed, planted,
      // kind), so every class keeps the same size profile under any seed
      val sizes = new Array[Double](n)
      (0 until n).groupBy(i => (i % 7 == 0, i % 8 == 3 && i % 7 != 0, kindOf(i)))
        .toSeq.sortBy(_._1).foreach { case (_, ids) =>
          val s = stratified(r, ids.length) { u =>
            math.min(524288.0, math.max(1500.0, 24576.0 * math.exp(1.0 * normalQuantile(u))))
          }
          ids.indices.foreach(k => sizes(ids(k)) = s(k))
        }
      val pages = new ArrayBuffer[GenPage](n)
      var links = 0L
      var ok = 0L
      var rawBytes = 0L
      var malformed = 0
      var maxDepth = 0
      var plantedCrc = 0L
      var planted = 0L
      var i = 0
      while (i < n) {
        val docId = i.toLong
        // by id, so the output check can select the same pages in Spark
        val bad = docId % 7 == 0
        val plant = !bad && docId % 8 == 3
        val sb = new java.lang.StringBuilder(sizes(i).toInt + 512)
        if (plant) {
          val text = plantedPage(r, sb, sizes(i).toInt)
          plantedCrc += crc(text)
          planted += 1
          ok += 1
          maxDepth = math.max(maxDepth, 4)
        } else {
          val st = mixedPage(r, sb, sizes(i).toInt, bad, kindOf(i))
          links += st._1
          rawBytes += st._2
          maxDepth = math.max(maxDepth, st._3)
          if (bad) malformed += 1 else ok += 1
        }
        pages += GenPage(docId, s"https://host-${host(r)}.example/c/$docId",
          timestamp(r), sb.toString, lang(r))
        i += 1
      }
      val bytes = pages.map(_.html.getBytes(UTF_8).length.toLong).sum
      Generated(pages.toIndexedSeq,
        Map("docs" -> n.toLong, "parse_ok" -> ok, "links" -> links,
          "bytes" -> bytes, "planted" -> planted, "planted_text_crc" -> plantedCrc),
        commonProps(pages.toIndexedSeq, rawBytes, malformed, 0, maxDepth))
    }

    /** Title plus plain paragraphs; returns the exact structuredText. */
    private def plantedPage(r: SplittableRandom, sb: java.lang.StringBuilder,
        target: Int): String = {
      val title = Seq.fill(3)(word(r)).mkString(" ")
      val text = new java.lang.StringBuilder(target)
      text.append(title)
      sb.append("<html><head><title>").append(title).append("</title></head><body>")
      while (sb.length < target) {
        sb.append("<p>")
        text.append('\n')
        val k = 8 + r.nextInt(40)
        var j = 0
        while (j < k) {
          if (j > 0) { sb.append(' '); text.append(' ') }
          if (r.nextInt(12) == 0) {
            val (enc, dec) = Entities(r.nextInt(Entities.length))
            sb.append(enc); text.append(dec)
          } else {
            val w = word(r)
            sb.append(w); text.append(w)
          }
          j += 1
        }
        sb.append("</p>")
      }
      sb.append("</body></html>")
      text.toString
    }

    /** Returns (anchor elements, raw-text bytes, max element depth). */
    private def mixedPage(r: SplittableRandom, sb: java.lang.StringBuilder,
        target: Int, malformed: Boolean, kind: Int): (Long, Long, Int) = {
      var links = 0L
      var raw = 0L
      var depth = 3
      sb.append("<html><head><title>").append(word(r)).append(' ').append(word(r))
        .append("</title><meta charset=\"utf-8\"><link rel=\"stylesheet\" href=\"/s.css\">")
      raw += script(r, sb)
      sb.append("</head><body>")
      if (kind == Deep) {
        val d = 30 + r.nextInt(31)
        depth = math.max(depth, 3 + d)
        var j = 0
        while (j < d) { sb.append(if (j % 2 == 0) "<div class=\"d\">" else "<section>"); j += 1 }
        prose(r, sb)
        j = d - 1
        while (j >= 0) { sb.append(if (j % 2 == 0) "</div>" else "</section>"); j -= 1 }
      }
      while (sb.length < target) {
        val x = r.nextInt(10)
        val block =
          if (kind == TagDense) { if (x < 7) 0 else if (x < 8) 1 else 2 }
          else if (kind == ScriptHeavy) { if (x < 2) 0 else if (x < 7) 1 else 2 }
          else { if (x < 2) 0 else if (x < 3) 1 else 2 }
        block match {
          case 0 => links += tagDense(r, sb); depth = math.max(depth, 7)
          case 1 => raw += script(r, sb)
          case _ => prose(r, sb); depth = math.max(depth, 4)
        }
      }
      if (malformed) {
        // unclosed div+h3 and no closing body/html: the tree never unwinds
        sb.append("<div><h3>").append(word(r)).append(' ').append(word(r))
        depth = math.max(depth, 5)
      } else sb.append("</body></html>")
      (links, raw, depth)
    }

    private def tagDense(r: SplittableRandom, sb: java.lang.StringBuilder): Long = {
      var links = 0L
      sb.append("<div class=\"row c").append(r.nextInt(9)).append("\"><ul class=\"nav\">")
      val k = 3 + r.nextInt(6)
      var j = 0
      while (j < k) {
        sb.append("<li class=\"item\"><a href=\"/p/").append(r.nextInt(100000))
          .append("\" class=\"l").append(r.nextInt(5)).append("\">").append(word(r))
          .append("</a></li>")
        links += 1; j += 1
      }
      sb.append("</ul><table class=\"grid\">")
      val rows = 1 + r.nextInt(3)
      j = 0
      while (j < rows) {
        sb.append("<tr>")
        val cells = 2 + r.nextInt(3)
        var c = 0
        while (c < cells) { sb.append("<td class=\"cell\">").append(word(r)).append("</td>"); c += 1 }
        sb.append("</tr>")
        j += 1
      }
      sb.append("</table><span class=\"tag\">").append(word(r))
        .append("</span><img src=\"/i/").append(r.nextInt(1000))
        .append(".png\" alt=\"").append(word(r)).append("\"><br></div>")
      links
    }

    /** A script and a style block; returns their raw-text bytes. */
    private def script(r: SplittableRandom, sb: java.lang.StringBuilder): Long = {
      val start = sb.length
      sb.append("<script>var d").append(r.nextInt(1000)).append(" = {\"k\": \"")
        .append(word(r)).append("\", \"h\": \"<div class=x>").append(word(r))
        .append("</div>\"}; if (a < b && c > d) { f(\"").append(word(r))
        .append("\"); }")
      val k = 2 + r.nextInt(12)
      var j = 0
      while (j < k) {
        sb.append(" w").append(j).append(" = g(\"").append(word(r))
          .append("\", ").append(r.nextInt(1000)).append(");")
        j += 1
      }
      sb.append("</script><style>.c").append(r.nextInt(100))
        .append(" > a { color: #abc; } .x").append(r.nextInt(100))
        .append(":hover { margin: 0 }</style>")
      sb.length - start - "<script></script><style></style>".length
    }

    private def prose(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
      sb.append("<h2>").append(word(r)).append(' ').append(word(r)).append("</h2><p>")
      val k = 20 + r.nextInt(60)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        if (r.nextInt(5) == 0) sb.append(Entities(r.nextInt(Entities.length))._1)
        else sb.append(word(r))
        j += 1
      }
      sb.append("</p>")
    }
  }

  // ---- selector_dense ----

  /** An element of the generator's own tree model: serialized for the
    * program, and matched by [[Dense.Sel]] to get the expected counts.
    */
  final class El(val tag: String, val id: String, val classes: Array[String],
      val attrs: Array[(String, String)], val parent: El) {
    val kids = new ArrayBuffer[AnyRef](4) // El or String
    def attr(k: String): String = {
      var i = 0
      while (i < attrs.length) { if (attrs(i)._1 == k) return attrs(i)._2; i += 1 }
      null
    }
    def text: String = {
      val sb = new java.lang.StringBuilder
      def go(e: El): Unit = e.kids.foreach {
        case s: String => sb.append(s)
        case c: El => go(c)
      }
      go(this)
      sb.toString
    }
  }

  /** Small element-dense pages (1-4 KB, nesting to depth 32, many classes
    * and attributes) and the fixed selector set that runs over them.
    */
  object Dense {
    /** A compound part: tag / #id / .classes / one attribute predicate. */
    final case class Part(tag: String = "", id: String = "",
        classes: Seq[String] = Nil, attr: Option[(String, String, String)] = None) {
      def matches(e: El): Boolean =
        (tag.isEmpty || e.tag == tag) && (id.isEmpty || e.id == id) &&
          classes.forall(e.classes.contains) && attr.forall { case (k, op, v) =>
            val a = e.attr(k)
            op match {
              case "" => a != null
              case "=" => a != null && a == v
              case "!=" => a == null || a != v
              case "^=" => a != null && a.startsWith(v)
              case "$=" => a != null && a.endsWith(v)
              case "*=" => a != null && a.contains(v)
              case "|=" => a != null && (a == v || a.startsWith(v + "-"))
              case "~=" => a != null && a.split("\\s+").contains(v)
            }
          }
    }

    /** A selector: comma union of descendant chains, with its CSS text. */
    final case class Sel(name: String, css: String, union: Seq[Seq[Part]])

    private def one(name: String, css: String, parts: Part*) = Sel(name, css, Seq(parts))

    /** Covers tag, #id, .class, compound, every `[attr op value]` operator,
      * descendant and comma-union.
      */
    val CountSelectors: Seq[Sel] = Seq(
      one("tag", "a", Part(tag = "a")),
      one("id", "#main", Part(id = "main")),
      one("class", ".c3", Part(classes = Seq("c3"))),
      one("compound", "div.c1.c2", Part(tag = "div", classes = Seq("c1", "c2"))),
      one("attr_exists", "[data-k]", Part(attr = Some(("data-k", "", "")))),
      one("attr_eq", "[data-k=v2]", Part(attr = Some(("data-k", "=", "v2")))),
      one("attr_ne", "li[data-k!=v2]", Part(tag = "li", attr = Some(("data-k", "!=", "v2")))),
      one("attr_prefix", "[href^=https]", Part(attr = Some(("href", "^=", "https")))),
      one("attr_suffix", "[href$=.html]", Part(attr = Some(("href", "$=", ".html")))),
      one("attr_contains", "[title*=lo]", Part(attr = Some(("title", "*=", "lo")))),
      one("attr_dash", "[lang|=en]", Part(attr = Some(("lang", "|=", "en")))),
      one("attr_word", "[rel~=nofollow]", Part(attr = Some(("rel", "~=", "nofollow")))),
      one("descendant", "section li a", Part(tag = "section"), Part(tag = "li"), Part(tag = "a")),
      Sel("union", "span.c2, a[rel~=nofollow]", Seq(
        Seq(Part(tag = "span", classes = Seq("c2"))),
        Seq(Part(tag = "a", attr = Some(("rel", "~=", "nofollow")))))))

    /** Single-chain selectors for `cssFirstText` (first match in document
      * order; no union, whose part-order rule would differ).
      */
    val FirstTextSelectors: Seq[Sel] = Seq(
      one("first_class", ".c3", Part(classes = Seq("c3"))),
      one("first_id", "#main", Part(id = "main")),
      one("first_descendant", "section li a", Part(tag = "section"), Part(tag = "li"), Part(tag = "a")))

    /** `section.c1 a` through explodeNodes + descendants. */
    val DescAncestor = Part(tag = "section", classes = Seq("c1"))
    val DescTarget = Part(tag = "a")

    private val Ids = Array("main", "nav", "side", "foot", "x1", "x2", "x3", "x4")
    private val Titles = Array("hello world", "lorem", "slow", "glow up", "none", "plain")
    private val LangVals = Array("en", "en-US", "en-GB", "fr", "de-DE", "english")
    private val Rels = Array("nofollow", "nofollow noopener", "noopener", "external nofollow", "me")
    private val Containers = Array("div", "div", "section", "article", "figure", "ul", "span")

    private def chainMatches(e: El, chain: Seq[Part]): Boolean = {
      if (!chain.last.matches(e)) return false
      var k = chain.length - 2
      var a = e.parent
      while (k >= 0 && a != null) {
        if (a.tag.nonEmpty && chain(k).matches(a)) k -= 1
        a = a.parent
      }
      k < 0
    }

    def matches(e: El, s: Sel): Boolean = s.union.exists(chainMatches(e, _))

    def generate(seed: Long, n: Int): Generated = {
      val r = new SplittableRandom(seed * 1000003L + 22)
      val sizes = stratified(r, n)(u => 1024.0 + 3072.0 * u)
      val pages = new ArrayBuffer[GenPage](n)
      val counts = new Array[Long](CountSelectors.length)
      val firstCrc = new Array[Long](FirstTextSelectors.length)
      val firstHits = new Array[Long](FirstTextSelectors.length)
      var descHits = 0L
      var elements = 0L
      var ancestors = 0L
      var maxDepth = 0
      var i = 0
      while (i < n) {
        val root = new El("", "", Array.empty, Array.empty, null)
        val ids = mutable.Set.empty[String]
        var size = 0
        while (size < sizes(i)) size += block(r, root, 0, 4 + r.nextInt(29), ids, sizes(i).toInt - size)
        val sb = new java.lang.StringBuilder(size + 64)
        sb.append("<html><body>")
        serialize(root, sb)
        sb.append("</body></html>")
        // walk in document order: expected counts and first matches
        val first = new Array[El](FirstTextSelectors.length)
        val stack = new java.util.ArrayDeque[(El, Int)]()
        stack.push((root, 2)) // html and body sit above the generated tree
        while (!stack.isEmpty) {
          val (e, d) = stack.pop()
          if (e.tag.nonEmpty) {
            elements += 1
            ancestors += d
            maxDepth = math.max(maxDepth, d + 1)
            var s = 0
            while (s < CountSelectors.length) {
              if (matches(e, CountSelectors(s))) counts(s) += 1
              s += 1
            }
            s = 0
            while (s < FirstTextSelectors.length) {
              if (first(s) == null && matches(e, FirstTextSelectors(s))) first(s) = e
              s += 1
            }
            if (chainMatches(e, Seq(DescAncestor, DescTarget))) descHits += 1
          }
          val kids = e.kids
          var j = kids.length - 1
          while (j >= 0) {
            kids(j) match { case c: El => stack.push((c, if (e.tag.isEmpty) d else d + 1)); case _ => }
            j -= 1
          }
        }
        var s = 0
        while (s < first.length) {
          if (first(s) != null) { firstHits(s) += 1; firstCrc(s) += crc(first(s).text) }
          s += 1
        }
        pages += GenPage(i.toLong, s"https://host-${host(r)}.example/d/$i",
          timestamp(r), sb.toString, lang(r))
        i += 1
      }
      // html + body are elements too (2 per page, depth 0 and 1)
      elements += 2L * n
      ancestors += 1L * n
      val expect = mutable.Map[String, Long]("docs" -> n.toLong,
        "desc_hits" -> descHits, "elements" -> elements, "ancestors" -> ancestors)
      CountSelectors.zip(counts).foreach { case (s, c) => expect(s"count.${s.name}") = c }
      FirstTextSelectors.indices.foreach { k =>
        expect(s"first.${FirstTextSelectors(k).name}.hits") = firstHits(k)
        expect(s"first.${FirstTextSelectors(k).name}.crc") = firstCrc(k)
      }
      Generated(pages.toIndexedSeq, expect.toMap,
        commonProps(pages.toIndexedSeq, 0L, 0, 0, maxDepth))
    }

    /** Adds one subtree of about `budget` bytes at most under `parent`;
      * returns its approximate byte size.
      */
    private def block(r: SplittableRandom, parent: El, depth: Int, maxDepth: Int,
        ids: mutable.Set[String], budget: Int): Int = {
      val leaf = depth >= maxDepth || budget <= 0 || r.nextInt(5) == 0
      val tag =
        if (parent.tag == "ul") "li"
        else if (leaf) (if (r.nextInt(3) == 0) "span" else "a")
        else {
          val t = Containers(r.nextInt(Containers.length))
          if (parent.tag == "span" || parent.tag == "a") "span" else t
        }
      val e = element(r, tag, parent, ids)
      parent.kids += e
      var size = 16 + e.attrs.map(a => a._1.length + a._2.length + 4).sum +
        e.classes.map(_.length + 1).sum
      if (leaf && tag != "li") {
        val w = word(r) + " " + word(r)
        e.kids += w
        size += w.length
      } else {
        val k = 1 + r.nextInt(if (depth < 3) 4 else 3)
        var j = 0
        while (j < k && (j == 0 || size < budget)) {
          size += block(r, e, depth + 1, maxDepth, ids, budget - size)
          if (r.nextInt(4) == 0) { val w = word(r); e.kids += w; size += w.length }
          j += 1
        }
      }
      size
    }

    private def element(r: SplittableRandom, tag: String, parent: El,
        ids: mutable.Set[String]): El = {
      val id = if (r.nextInt(8) == 0) {
        val c = Ids(r.nextInt(Ids.length))
        if (ids.add(c)) c else ""
      } else ""
      val nc = r.nextInt(5)
      val cls = mutable.LinkedHashSet.empty[String]
      var j = 0
      while (j < nc) { cls += s"c${r.nextInt(8)}"; j += 1 }
      val attrs = ArrayBuffer.empty[(String, String)]
      if (r.nextInt(5) < 2) attrs += (("data-k", s"v${r.nextInt(5)}"))
      if (r.nextInt(7) == 0) attrs += (("title", Titles(r.nextInt(Titles.length))))
      if (r.nextInt(10) == 0) attrs += (("lang", LangVals(r.nextInt(LangVals.length))))
      if (tag == "a") {
        val h = r.nextInt(4) match {
          case 0 => s"https://h${r.nextInt(50)}.example/p${r.nextInt(1000)}.html"
          case 1 => s"https://h${r.nextInt(50)}.example/q${r.nextInt(1000)}"
          case 2 => s"/rel/${r.nextInt(1000)}.html"
          case _ => s"http://x.example/${r.nextInt(1000)}.htm"
        }
        attrs += (("href", h))
        if (r.nextBoolean()) attrs += (("rel", Rels(r.nextInt(Rels.length))))
      }
      new El(tag, id, cls.toArray, attrs.toArray, parent)
    }

    private def serialize(e: El, sb: java.lang.StringBuilder): Unit =
      e.kids.foreach {
        case s: String => sb.append(s)
        case c: El =>
          sb.append('<').append(c.tag)
          if (c.id.nonEmpty) sb.append(" id=\"").append(c.id).append('"')
          if (c.classes.nonEmpty) sb.append(" class=\"").append(c.classes.mkString(" ")).append('"')
          c.attrs.foreach { case (k, v) => sb.append(' ').append(k).append("=\"").append(v).append('"') }
          sb.append('>')
          serialize(c, sb)
          sb.append("</").append(c.tag).append('>')
      }
  }

  // ---- curate_commit ----

  /** Short pages for training-data curation: planted exact and near
    * duplicates in heavy-tailed clusters, host skew, and an outlink graph
    * with preferential in-degree. Page text is made of fresh random tokens
    * so unrelated pages share no shingles.
    */
  object Curate {
    val Buckets = 2
    val PageRankIters = 3

    def generate(seed: Long, n: Int): Generated = {
      val r = new SplittableRandom(seed * 1000003L + 33)
      // cluster sizes: 60% singletons, the rest a Pareto tail capped at 40
      val sizes = ArrayBuffer.empty[Int]
      var total = 0
      val draws = stratified(r, n) { u =>
        if (u < 0.6) 1.0 else math.min(40.0, math.floor(2.0 / math.pow(1 - (u - 0.6) / 0.4, 0.7)))
      }
      var k = 0
      while (total < n) {
        val s = math.min(draws(k % draws.length).toInt, n - total)
        sizes += s; total += s; k += 1
      }
      val ids = Array.tabulate(n)(_.toLong)
      shuffle(r, ids)
      val htmlOf = new Array[String](n)
      val ts = new Array[Long](n)
      val outs = new Array[Array[Long]](n)
      val clusterOf = new Array[Int](n)
      var pos = 0
      var duplicates = 0
      sizes.zipWithIndex.foreach { case (size, c) =>
        // the original gets the cluster's smallest id (it was crawled
        // first), so every copy is one hop from the survivor
        val members = ids.slice(pos, pos + size).sorted
        pos += size
        val tokens = Array.fill(60 + r.nextInt(100))(randomToken(r, 7))
        val targets = Array.fill(2 + r.nextInt(5)) {
          var t = (n * math.pow(r.nextDouble(), 2.5)).toLong
          if (t == members(0)) t = (t + 1) % n
          t
        }
        members.zipWithIndex.foreach { case (id, m) =>
          val toks =
            if (m == 0 || r.nextBoolean()) tokens // original or exact copy
            else { val t = tokens.clone(); t(r.nextInt(t.length)) = randomToken(r, 7); t }
          if (m > 0) duplicates += 1
          htmlOf(id.toInt) = page(toks, targets)
          outs(id.toInt) = targets
          clusterOf(id.toInt) = c
          ts(id.toInt) = timestamp(r)
        }
      }
      val pages = (0 until n).map { i =>
        GenPage(i.toLong, url(i.toLong, r), ts(i), htmlOf(i), lang(r))
      }
      // survivors: the smallest doc_id of each cluster
      val survivorOf = new Array[Long](sizes.length)
      java.util.Arrays.fill(survivorOf, Long.MaxValue)
      (0 until n).foreach(i => survivorOf(clusterOf(i)) = math.min(survivorOf(clusterOf(i)), i.toLong))
      val survivors = survivorOf.sorted
      val isSurvivor = new Array[Boolean](n)
      survivors.foreach(s => isSurvivor(s.toInt) = true)
      val sizeOf = sizes.toArray
      // the graph PageRank sees: survivor -> survivor edges, parallel kept
      val edges = survivors.toSeq.flatMap(s => outs(s.toInt).filter(t => isSurvivor(t.toInt)).map(t => (s, t)))
      val ranks = pageRankInt(survivors, edges)
      val perBucket = survivors.groupBy(s => (ts(s.toInt) / 3600) % Buckets).map { case (b, v) => (b, v.length.toLong) }
      val expect = mutable.Map[String, Long](
        "docs" -> n.toLong,
        "clusters" -> sizes.length.toLong,
        "survivor_id_sum" -> survivors.sum,
        "survivor_weighted_sum" -> survivors.map(s => s * sizeOf(clusterOf(s.toInt))).sum,
        "max_cluster" -> sizes.max.toLong,
        "edges" -> edges.length.toLong,
        "rank_sum" -> ranks.values.sum,
        "rank_weighted_sum" -> ranks.map { case (k, v) => k * v }.sum,
        "committed_rows" -> survivors.length.toLong,
        "manifests" -> perBucket.size.toLong)
      perBucket.foreach { case (b, c) => expect(s"bucket.$b") = c }
      Generated(pages, expect.toMap,
        commonProps(pages, 0L, 0, duplicates, 5) ++
          Map("clusters" -> sizes.length.toDouble, "max_cluster" -> sizes.max.toDouble))
    }

    def url(id: Long, r: SplittableRandom): String =
      s"https://host-${host(r)}.example/p/$id"

    /** Link targets use host-0 so the page URL (which carries its own host)
      * is never needed to resolve an edge: the edge join keys on the id.
      */
    def href(id: Long): String = s"/p/$id"

    private def page(toks: Array[String], targets: Array[Long]): String = {
      val sb = new java.lang.StringBuilder(2048)
      sb.append("<html><head><title>").append(toks(0)).append(' ').append(toks(1))
        .append("</title></head><body><div class=\"post\"><h1>").append(toks(2))
        .append("</h1>")
      var i = 3
      while (i < toks.length) {
        val end = math.min(toks.length, i + 25)
        sb.append("<p>").append(toks.slice(i, end).mkString(" ")).append("</p>")
        i = end
      }
      sb.append("<ul class=\"links\">")
      targets.foreach(t => sb.append("<li><a href=\"").append(href(t)).append("\"></a></li>"))
      sb.append("</ul></div></body></html>")
      sb.toString
    }

    /** The integer PageRank that `LinkGraph.pageRankInt` computes. */
    def pageRankInt(nodes: Array[Long], edges: Seq[(Long, Long)],
        iters: Int = PageRankIters, dampPct: Int = 85, unit: Long = 1000000L): Map[Long, Long] = {
      val outDeg = edges.groupBy(_._1).map { case (s, v) => (s, v.length.toLong) }
      val base = (100L - dampPct) * unit / 100L
      var rank = nodes.map(n => (n, unit)).toMap
      var i = 0
      while (i < iters) {
        val inShare = mutable.Map.empty[Long, Long]
        edges.foreach { case (s, d) =>
          rank.get(s).foreach(rs => inShare(d) = inShare.getOrElse(d, 0L) + rs / outDeg(s))
        }
        rank = nodes.map(n => (n, base + dampPct * inShare.getOrElse(n, 0L) / 100)).toMap
        i += 1
      }
      rank
    }
  }
}
