package graft

/** Adversarial-input sweep over EVERY per-page extractor: parse each fuzz
  * document once and drive all extraction surfaces — crash-safety on
  * hostile markup is a hard requirement for a crawl pipeline (one throw
  * in 10^12 docs kills a task and, un-caught, a stage). Run:
  *
  *   python3 tools/gen_fuzz.py /tmp/fuzz 1500 99
  *   sbt -batch "runMain graft.tools.Main adversarial /tmp/fuzz"
  *
  * Prints the extractor call count and total wall; returns nonzero on ANY
  * throw, naming the file and extractor.
  */
object AdversarialSweep {
  private val SweepBase = "https://Sweep.Example:443/dir/sub/page.html?q=1"

  def run(args: Array[String]): Int = {
    require(args.length == 1, "usage: adversarial <fuzzDir>")
    val dir = new java.io.File(args(0))
    val files = dir.listFiles().filter(_.getName.endsWith(".html")).sortBy(_.getName)
    require(files.nonEmpty, s"no html files in $dir")
    var calls = 0L
    val t0 = System.nanoTime()
    var failed = 0
    files.foreach { f =>
      val html = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      def drive(name: String)(body: => Any): Unit = {
        try { body; calls += 1 }
        catch { case e: Throwable =>
          failed += 1
          System.err.println(s"THROW in $name on ${f.getName}: $e")
        }
      }
      val root = graft.kernel.HtmlParser.parse(html)
      drive("headMetaOf")(graft.ops.PageMeta.headMetaOf(0L, root))
      drive("outlinksOf")(graft.ops.PageMeta.outlinksOf(0L, root))
      drive("tableRowsOf")(graft.ops.PageMeta.tableRowsOf(0L, root))
      drive("alternatesOf")(graft.ops.PageMeta.alternatesOf(0L, root))
      drive("metaRefreshOf")(graft.ops.PageMeta.metaRefreshOf(0L, root))
      drive("outlineOf")(graft.ops.PageMeta.outlineOf(0L, root))
      drive("templateFpOf")(graft.ops.PageMeta.templateFpOf(root))
      drive("mainContent")(graft.kernel.Boilerplate.mainContent(html))
      drive("feedEntries")(graft.sources.Feed.entries(html))
      drive("sitemapEntries")(graft.sources.Sitemap.entries(html))
      // round-5 extractors
      drive("pageBaseOf")(graft.ops.PageMeta.pageBaseOf(root))
      drive("imagesOf")(graft.ops.PageMeta.imagesOf(0L, root))
      drive("socialMetaOf")(graft.ops.PageMeta.socialMetaOf(0L, root))
      drive("captionsOf")(graft.ops.PageMeta.captionsOf(0L, root))
      drive("mediaSourcesOf")(graft.ops.PageMeta.mediaSourcesOf(0L, root))
      drive("parseSrcset")(graft.ops.PageMeta.parseSrcset(html.take(4096)))
      // the raw-text script path: only jsonLdOf parses with script = true
      drive("jsonLdOf")(graft.ops.PageMeta.jsonLdOf(0L,
        graft.kernel.HtmlParser.parse(html, graft.kernel.ParseOptions(script = true))))
      // hostile hrefs straight into URL resolution and canonicalization
      drive("resolveCanonicalize")(graft.ops.PageMeta.outlinksOf(0L, root).foreach { o =>
        graft.ops.UrlOps.canonicalizeUrl(graft.ops.UrlOps.resolveUrl(SweepBase, o.href))
      })
    }
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[sweep] ${files.length} docs, $calls extractor calls, $failed throws, $wall%.1f s")
    if (failed > 0) 1 else 0
  }
}
