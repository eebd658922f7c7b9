package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The developer-tool entry point: dispatch, and the adversarial gate run
  * through it over hostile pages written by the test itself.
  */
class MainSpec extends AnyFunSuite {

  private val subcommands = Seq("plansweep", "plandump", "adversarial", "diff",
    "kernel", "bench-extra", "scaling", "soak")

  /** Runs `Main.run(args)`, returning the status, stdout and stderr. */
  private def runMain(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val status = Console.withOut(out)(Console.withErr(err)(Main.run(args.toArray)))
    (status, out.toString(UTF_8), err.toString(UTF_8))
  }

  test("no subcommand or an unknown one lists the subcommands, starts no session") {
    val sessionsBefore = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    for (args <- Seq(Seq.empty[String], Seq("nope"), Seq("PlanSweep", "x"))) {
      val (status, out, err) = runMain(args: _*)
      assert(status != 0, args)
      assert(out.isEmpty)
      subcommands.foreach(name => assert(err.contains(s"  $name "), name))
    }
    assert((SparkSession.getDefaultSession, SparkSession.getActiveSession) == sessionsBefore)
  }

  test("adversarial gate: every extractor survives hostile pages, status 0") {
    val pages = Seq(
      "unterminated_script" ->
        "<html><body><p>before</p><script>var s = \"<div>\"; if (a < b) {",
      "deep_nesting" -> ("<div>" * 5000 + "deep text" + "</div>" * 10),
      "stray_table_closers" ->
        "<p>one</table></tr><td>two</td></tr></table><a href=\"/x\">l</a></p>",
      "broken_entities" ->
        "<p title=\"&#x;\">&#x; &amp &#; &#xZZ; &unknown; &amp;&#1114112; &</p>",
      "unclosed_attribute_quotes" ->
        ("<a href=\"http://a.example/x class='c title=t>t</a><img src=\"i.png " +
          "srcset='a.png 1x, b.png 2x><meta name=\"description content=d>"))
    val dir: Path = Files.createTempDirectory("adversarial")
    try {
      pages.foreach { case (name, html) =>
        Files.write(dir.resolve(s"$name.html"), html.getBytes(UTF_8))
      }
      val (status, out, _) = runMain("adversarial", dir.toString)
      assert(status == 0, out)
      val extractors = 18
      assert(out.contains(
        s"[sweep] ${pages.length} docs, ${extractors * pages.length} extractor calls, 0 throws"),
        out)
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}
