package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Real-world corpus validation (re-encoding of
  * /root/reference/test/html.test.ts:191–197, 247–249, 392–434). Corpus files
  * are read from the read-only reference checkout at test time (data only —
  * no code is taken); cases are skipped gracefully if absent.
  */
class CorpusSpec extends AnyFunSuite {

  private val dir = Paths.get("/root/reference/test/html")

  /** node's Buffer.toString() decodes as UTF-8 with replacement chars. */
  private def readUtf8(name: String): Option[String] = {
    val p = dir.resolve(name)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }

  private def whenPresent(name: String)(f: String => Unit): Unit =
    readUtf8(name) match {
      case Some(html) => f(html)
      case None => cancel(s"corpus file $name not available")
    }

  // html.test.ts:392–395 — unclosed <p> on line 476, still valid
  test("hillcrestpartyrentals.html parses valid") {
    whenPresent("hillcrestpartyrentals.html") { html =>
      assert(HtmlParser.parse(html).valid)
    }
  }

  // html.test.ts:397–400
  test("google.html parses valid") {
    whenPresent("google.html")(html => assert(HtmlParser.parse(html).valid))
  }

  // html.test.ts:402–405
  test("gmail.html parses valid") {
    whenPresent("gmail.html")(html => assert(HtmlParser.parse(html).valid))
  }

  // html.test.ts:407–410 — extra opening <div>
  test("ffmpeg.html parses valid") {
    whenPresent("ffmpeg.html")(html => assert(HtmlParser.parse(html).valid))
  }

  // html.test.ts:191–197, 247–249
  test("incomplete-script parses without throwing (both option sets)") {
    whenPresent("incomplete-script") { html =>
      HtmlParser.parse(html, ParseOptions(script = true))
      HtmlParser.parse(html)
    }
  }

  // html.test.ts:426–434 — strip all '</' → must be invalid
  test("mutated gmail.html and nice.html are invalid") {
    whenPresent("gmail.html") { html =>
      assert(!HtmlParser.parse(html.replace("</", "<")).valid)
    }
    whenPresent("nice.html") { html =>
      assert(!HtmlParser.parse(html.replace("</", "<")).valid)
    }
  }

  // REFERENCE-VERIFIED goldens: md5 of structuredText / toString produced by
  // the actual reference engine (transpiled to JS and executed — see
  // tools/transpile_reference.py + tools/ref_runner.js; 9,696 differential
  // records across 2,412 fuzz+corpus inputs all match)
  private val goldens: Map[String, (Boolean, String, String)] = Map(
    "ffmpeg.html" -> ((true, "77aa21a4af4c80698dfcbaf500deb204", "65fd6b9248bd6c9c24ba6726edd9ee33")),
    "gmail.html" -> ((true, "9c3a18fd84793903d4460c126d3febcc", "5a02724a468d387d2b761579d9f4752c")),
    "google.html" -> ((true, "bd2158bfc5d5ee6d85855b1a5c5be014", "6c836867918335283ad8f5f8e75bf3be")),
    "hillcrestpartyrentals.html" -> ((true, "308b299ec9ce16515e4f04c607421d05", "6ca7f32399c5102b8acfec850d60062a")),
    "incomplete-script" -> ((false, "582ef1500e2c95545c355b17b34fef2d", "d2c965e89d91d99c0acf7d2d8b910767")),
    "nice.html" -> ((true, "6a82a57860cf3b9e98aa5289d5e26c50", "0cc35a329ec752e0637c8c487686a6f5")))

  private def md5(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }

  test("corpus extraction matches reference-engine goldens byte-identically") {
    goldens.foreach { case (name, (expValid, stMd5, outerMd5)) =>
      whenPresent(name) { html =>
        val root = HtmlParser.parse(html)
        assert(root.valid == expValid, s"$name valid flag")
        assert(md5(root.structuredText) == stMd5, s"$name structuredText")
        assert(md5(root.toHtml) == outerMd5, s"$name serialization")
      }
    }
  }

  // REAL-PAGE HEURISTIC GOLDENS (self-generated regression pins, not
  // reference-asserted — the reference has no boilerplate/meta/link/table
  // ops): the round-3 heuristics locked against the 6 real corpus pages so
  // a behavior drift on real HTML (not just synthesized pages) fails CI.
  // Values sanity-checked at generation time: google.html genuinely has 0
  // <a> elements (JS-built page), ffmpeg.html 88 links, gmail.html 156
  // table rows.
  private final case class Golden(
      mainMd5: String, nStripped: Int,
      titleMd5: String, descMd5: String,
      canonical: String, noindex: Boolean,
      nLinks: Int, linksMd5: String,
      nTableRows: Int, tablesMd5: String)

  private val heuristicGoldens: Map[String, Golden] = Map(
    "ffmpeg.html" -> Golden(
      mainMd5 = "eef4911773e4c8ef0dada5764ca95a6d", nStripped = 15,
      titleMd5 = "348894bd2b3da3f1462b38b34ff75ade", descMd5 = "d41d8cd98f00b204e9800998ecf8427e",
      canonical = "", noindex = false,
      nLinks = 88, linksMd5 = "83b4e12d23d82c5e2cb5a70a01625c74",
      nTableRows = 0, tablesMd5 = "d41d8cd98f00b204e9800998ecf8427e"),
    "gmail.html" -> Golden(
      mainMd5 = "eab5c47a4a3be2db80eeb004aef601fa", nStripped = 55,
      titleMd5 = "c2c85d09e376a526c1b008dcc21ce9c5", descMd5 = "b6ad0c28a9c41e9d963cb5cd1c1ed9f7",
      canonical = "https://mail.google.com/mail/", noindex = false,
      nLinks = 57, linksMd5 = "05595bec06eb388d0d0de59de097cc4f",
      nTableRows = 156, tablesMd5 = "1695fc6e6df5b948cdf4c87ac3b99b32"),
    "google.html" -> Golden(
      mainMd5 = "5912061c350157afa48074ff1e244205", nStripped = 14,
      titleMd5 = "d41d8cd98f00b204e9800998ecf8427e", descMd5 = "d41d8cd98f00b204e9800998ecf8427e",
      canonical = "", noindex = false,
      nLinks = 0, linksMd5 = "d41d8cd98f00b204e9800998ecf8427e",
      nTableRows = 0, tablesMd5 = "d41d8cd98f00b204e9800998ecf8427e"),
    "hillcrestpartyrentals.html" -> Golden(
      mainMd5 = "4b7d7c381c14cfc35548243d81cee1ee", nStripped = 3,
      titleMd5 = "42d9eb2149aadf88ff572ea2183c4ee8", descMd5 = "d41d8cd98f00b204e9800998ecf8427e",
      canonical = "", noindex = false,
      nLinks = 29, linksMd5 = "2678a3fd2c451ecf117eb6fcde3df32c",
      nTableRows = 48, tablesMd5 = "c26ebec1ef895e53df33619958d5c90d"),
    "incomplete-script" -> Golden(
      mainMd5 = "f7c3c973e79ad9a4ae9472bba3cb46af", nStripped = 28,
      titleMd5 = "7241721d293b2f847a465ae4142ef954", descMd5 = "76eda4bbbfdec4d34f2db6e424f3f0fb",
      canonical = "http://www.ssense.com/women/designers/all/backpacks", noindex = false,
      nLinks = 108, linksMd5 = "5d943620e9fa2caf72de357795871eef",
      nTableRows = 0, tablesMd5 = "d41d8cd98f00b204e9800998ecf8427e"),
    "nice.html" -> Golden(
      mainMd5 = "6a82a57860cf3b9e98aa5289d5e26c50", nStripped = 0,
      titleMd5 = "d41d8cd98f00b204e9800998ecf8427e", descMd5 = "d41d8cd98f00b204e9800998ecf8427e",
      canonical = "", noindex = false,
      nLinks = 0, linksMd5 = "d41d8cd98f00b204e9800998ecf8427e",
      nTableRows = 6, tablesMd5 = "0d784c649416db4d1f38f51957207611"))

  // round-4 extractors on the same real pages: template fingerprint
  // stability, hreflang alternates (the ssense page carries a REAL
  // fr-alternate — found, not synthesized), and meta-refresh (none of the
  // corpus pages declares one: pins no false positives on real HTML)
  private val extractorGoldens: Map[String, (Long, Seq[String])] = Map(
    "ffmpeg.html" -> ((480762960566843958L, Seq.empty)),
    "gmail.html" -> ((5172645300645984692L, Seq.empty)),
    "google.html" -> ((-9080569856485665212L, Seq.empty)),
    "hillcrestpartyrentals.html" -> ((-7996002035933037480L, Seq.empty)),
    "incomplete-script" -> ((8896398745731211110L,
      Seq("fr=http://www.ssense.com/fr/women/designers/all/backpacks"))),
    "nice.html" -> ((-4666535434114061994L, Seq.empty)))

  // round-5 extractor on the same real pages: image-text pairs — count,
  // srcset-carrying count, md5 of (src, alt, srcset-normalized) lines.
  // gmail.html carries a REAL srcset (found, not synthesized); google's
  // single logo img pins the minimal case.
  private val imageGoldens: Map[String, (Int, Int, String)] = Map(
    "ffmpeg.html" -> ((5, 0, "7a6ef67bf24fcadbe0ca0625a579eb99")),
    "gmail.html" -> ((203, 1, "af4832dfc52bef00ad5d7fac4cd8a9b0")),
    "google.html" -> ((1, 0, "ba36a6c57edf1e865993db47dd9bd366")),
    "hillcrestpartyrentals.html" -> ((36, 0, "7e3ddb1d93481192d1a0288aae18ab6d")),
    "incomplete-script" -> ((5, 0, "1052422de29b7f71c5d630d97ac84c14")),
    "nice.html" -> ((5, 0, "958677d6df1cb962852a9ad1bac186d1")))

  test("real-page goldens: image-text pairs (count, srcset presence, content md5)") {
    imageGoldens.foreach { case (name, (n, nSrcset, m)) =>
      whenPresent(name) { html =>
        val imgs = graft.ops.PageMeta.imagesOf(0L, HtmlParser.parse(html))
        assert(imgs.length == n, s"$name image count")
        assert(imgs.count(_._5.nonEmpty) == nSrcset, s"$name srcset count")
        assert(md5(imgs.map(r => s"${r._3}\t${r._4}\t${r._5}")
          .mkString("\n")) == m, s"$name images md5")
      }
    }
  }

  test("real-page goldens: template fingerprint, hreflang alternates, no meta-refresh") {
    extractorGoldens.foreach { case (name, (fp, alts)) =>
      whenPresent(name) { html =>
        val root = HtmlParser.parse(html)
        assert(graft.ops.PageMeta.templateFpOf(root) == fp, s"$name template fp")
        assert(graft.ops.PageMeta.alternatesOf(0L, root)
          .map(a => a._3 + "=" + a._4) == alts, s"$name alternates")
        assert(graft.ops.PageMeta.metaRefreshOf(0L, root).isEmpty,
          s"$name meta refresh false positive")
        // none of the corpus pages declares a social card or semantic
        // figure markup — pins no false positives on real HTML (round 5)
        assert(graft.ops.PageMeta.socialMetaOf(0L, root).isEmpty,
          s"$name social-card false positive")
        assert(graft.ops.PageMeta.captionsOf(0L, root).isEmpty,
          s"$name figure-caption false positive")
        assert(graft.ops.PageMeta.mediaSourcesOf(0L, root).isEmpty,
          s"$name media-source false positive")
      }
    }
  }

  test("real-page heuristics match goldens: boilerplate / headMeta / outlinks / tables") {
    heuristicGoldens.foreach { case (name, g) =>
      whenPresent(name) { html =>
        val root = HtmlParser.parse(html)
        val mc = Boilerplate.mainContent(html)
        assert(md5(mc.main_text) == g.mainMd5, s"$name main_text")
        assert(mc.n_stripped == g.nStripped, s"$name n_stripped")
        val hm = graft.ops.PageMeta.headMetaOf(0L, root)
        assert(md5(hm.title) == g.titleMd5, s"$name title")
        assert(md5(hm.description) == g.descMd5, s"$name description")
        assert(hm.canonical == g.canonical, s"$name canonical")
        assert(hm.noindex == g.noindex, s"$name noindex")
        val links = graft.ops.PageMeta.outlinksOf(0L, root)
        assert(links.size == g.nLinks, s"$name link count")
        assert(md5(links.map(l => s"${l.href}\t${l.anchor}\t${l.nofollow}")
          .mkString("\n")) == g.linksMd5, s"$name links")
        val rows = graft.ops.PageMeta.tableRowsOf(0L, root)
        assert(rows.size == g.nTableRows, s"$name table-row count")
        assert(md5(rows.map(r => s"${r._2}\t${r._3}\t${r._4}\t${r._5}")
          .mkString("\n")) == g.tablesMd5, s"$name tables")
      }
    }
  }

  // regression pins (self-generated, not reference-asserted): structural
  // stability of the kernel across rounds on the full corpus
  test("corpus extraction is deterministic and non-trivial") {
    Seq("google.html", "gmail.html", "ffmpeg.html", "nice.html",
      "hillcrestpartyrentals.html").foreach { name =>
      whenPresent(name) { html =>
        val root = HtmlParser.parse(html)
        val text = root.structuredText
        val text2 = HtmlParser.parse(html).structuredText
        assert(text == text2, s"$name structuredText must be deterministic")
        assert(text.nonEmpty, s"$name must extract non-empty text")
        // round-trip serialization is stable (parse(serialize(x)) fixpoint)
        val ser = root.toHtml
        assert(HtmlParser.parse(ser).toHtml == ser, s"$name serialize fixpoint")
      }
    }
  }
}
