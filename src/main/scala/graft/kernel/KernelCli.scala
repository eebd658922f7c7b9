package graft.kernel

/** Tiny CLI surface over the kernel for manual verification and single-node
  * throughput checks:
  *
  *   runMain graft.tools.Main kernel parse <file> [selector]
  *   runMain graft.tools.Main kernel bench <file> <iterations>
  *   runMain graft.tools.Main kernel text  <file>
  *   runMain graft.tools.Main kernel main  <file>   # boilerplate-stripped
  */
object KernelCli {
  def run(args: Array[String]): Int = {
    val html = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args(1))),
      java.nio.charset.StandardCharsets.UTF_8)
    args(0) match {
      case "parse" =>
        val root = HtmlParser.parse(html)
        println(s"valid=${root.valid}")
        println(s"serializedLen=${root.toHtml.length}")
        println(s"structuredTextLen=${root.structuredText.length}")
        if (args.length > 2) {
          val hits = root.querySelectorAll(args(2))
          println(s"selector '${args(2)}' matches=${hits.length}")
          hits.take(5).foreach(e =>
            println(s"  <${e.tagName}> id='${e.id}' classes='${e.classNames.mkString(" ")}'"))
        }
      case "text" =>
        println(HtmlParser.parse(html).structuredText)
      case "main" =>
        val r = Boilerplate.mainContent(html)
        println(s"--- stripped ${r.n_stripped} boilerplate subtrees ---")
        println(r.main_text)
      case "bench" =>
        val iters = args(2).toInt
        var i = 0
        // warmup
        while (i < math.min(iters, 50)) { HtmlParser.parse(html); i += 1 }
        val t0 = System.nanoTime()
        i = 0
        var nodes = 0L
        while (i < iters) {
          val r = HtmlParser.parse(html)
          nodes += r.childNodes.length
          i += 1
        }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"parsed $iters%d docs of ${html.length}%d chars in $sec%.3f s = ${iters / sec}%.1f docs/sec/core")
      case other => sys.error(s"unknown op $other")
    }
    0
  }
}
