package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.kernel.HtmlParser
import java.nio.file.{Files, Paths}

/** Parse a directory of HTML pages through the full Spark path and emit
  * per-file structural fingerprints. No SQL oracle exists (DuckDB can't
  * parse HTML); determinism of these values is pinned by ScalaTest. The
  * default directory is the repository's hand-written fixture pages,
  * relative to the working directory (run from the repository root).
  */
object CorpusGolden {

  final case class Golden(name: String, valid: Boolean, n_nodes: Long,
      text_md5: String, outer_md5: String)

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
  }

  def run(spark: SparkSession,
      corpusDir: String = "src/test/resources/pages"): DataFrame = {
    import spark.implicits._
    // binaryFile source: file bytes travel as data partitions (one file per
    // row, scanned executor-side) — NOT in the task closure, which shipped
    // the 2.1 MB gmail.html with every task in round 1
    require(Files.isDirectory(Paths.get(corpusDir)),
      s"golden corpus dir missing: $corpusDir — the q26 check would be vacuous")
    spark.read.format("binaryFile").load(corpusDir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val html = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val root = HtmlParser.parse(html)
        var nodes = 0L
        val stack = new scala.collection.mutable.ArrayBuffer[graft.kernel.DomNode](64)
        root.childNodes.foreach(stack += _)
        while (stack.nonEmpty) {
          nodes += 1
          stack.remove(stack.length - 1) match {
            case e: graft.kernel.Element => e.childNodes.foreach(stack += _)
            case _ =>
          }
        }
        Golden(name, root.valid, nodes, md5hex(root.structuredText), md5hex(root.toHtml))
      }
      .toDF()
  }
}
