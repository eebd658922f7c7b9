package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{HtmlParser, ParseOptions, Element, TextNode, CommentNode, DomNode}

/** The flagship pipeline: scan → (optional salted repartition) → typed
  * mapPartitions kernel → ParsedDoc columns (SURVEY.md §3.1, §7.2).
  *
  * Scale notes (100 TB design):
  *   - the stage is map-only: no shuffle unless `saltPartitions > 0` is
  *     requested to defuse host/domain skew; whole-stage codegen pipelines the
  *     parquet scan into the DeserializeToObject boundary
  *   - only (url, warc_ts, html, lang) are read — column pruning reaches the
  *     scan, so the `text` hint column is never deserialized
  *   - per-doc memory is O(doc); no driver-side collection anywhere
  */
object ExtractJob {

  /** Count nodes/elements/links in one allocation-free pass. */
  private def stats(root: Element): (Int, Int, Int) = {
    var nodes = 0
    var elements = 0
    var links = 0
    val stack = new scala.collection.mutable.ArrayBuffer[DomNode](32)
    var i = root.childNodes.length - 1
    while (i >= 0) { stack += root.childNodes(i); i -= 1 }
    while (stack.nonEmpty) {
      val n = stack.remove(stack.length - 1)
      nodes += 1
      n match {
        case e: Element =>
          elements += 1
          if (e.tagName == "a") links += 1
          var j = e.childNodes.length - 1
          while (j >= 0) { stack += e.childNodes(j); j -= 1 }
        case _ =>
      }
    }
    (nodes, elements, links)
  }

  def parsePage(docId: Long, url: String, warcTs: java.sql.Timestamp,
      html: Array[Byte], lang: String,
      options: ParseOptions = ParseOptions(),
      stripBoilerplate: Boolean = false,
      sniffCharset: Boolean = false): ParsedDoc = {
    // default is a straight UTF-8 decode (the input_hint contract);
    // sniffCharset turns on BOM + meta-charset detection for raw crawl
    // bytes (graft.sources.Charset — never throws, U+FFFD on bad input)
    val raw =
      if (sniffCharset) graft.sources.Charset.decode(html)
      else new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val root = HtmlParser.parse(raw, options)
    // optional DOM heuristics (north star: "strip boilerplate and emit
    // extracted text") — same kernel pass, zero extra plan cost; node/link
    // stats then describe the EMITTED tree, not the raw one
    if (stripBoilerplate) graft.kernel.Boilerplate.strip(root)
    val (nodes, elements, links) = stats(root)
    ParsedDoc(docId, url, warcTs, lang, root.valid, root.structuredText,
      nodes, elements, links, html.length)
  }

  /** pages(url, warc_ts, html, text, lang, …) → Dataset[ParsedDoc].
    *
    * `doc_id` is carried through when the input has one (so downstream
    * joins-by-id are free — re-joining the output against the source table
    * just to recover an id was the single avoidable shuffle in the flagship
    * query); inputs without the column get -1.
    */
  def run(pages: DataFrame, saltPartitions: Int = 0,
      stripBoilerplate: Boolean = false,
      sniffCharset: Boolean = false): Dataset[ParsedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // prune to exactly what the kernel needs BEFORE any shuffle
    val withId =
      if (pages.columns.contains("doc_id")) pages
      else pages.withColumn("doc_id", lit(-1L))
    val pruned = withId.select(col("doc_id").cast("long").as("doc_id"),
      col("url"), col("warc_ts"), col("html"), col("lang"))
    val routed =
      if (saltPartitions > 0) {
        // canonical salted-host repartition: the key is (host, salt) so a
        // hot host fans out over at most 16 partitions (bounded skew) while
        // other hosts keep locality. Partitioning on a single pre-hashed
        // pmod column would collapse the key space and can RE-concentrate
        // it when repartition hashes the few salt values again.
        pruned
          .withColumn("__host", graft.ops.UrlOps.hostKey(col("url")))
          .repartition(saltPartitions, col("__host"), pmod(hash(col("url")), lit(16)))
          .drop("__host")
      } else pruned
    routed
      .as[(Long, String, java.sql.Timestamp, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, url, ts, html, lang) =>
          parsePage(id, url, ts, html, lang,
            stripBoilerplate = stripBoilerplate, sniffCharset = sniffCharset)
        }
      }
  }

  /** One row per ELEMENT node, in document order (SURVEY.md §1.4): the
    * relational surface for selector queries — single-part selectors become
    * Catalyst predicates over (tag, id, classes, attrs), and DESCENDANT
    * combinators become an equi-join on (doc_id, exploded ancestors) —
    * no per-row HTML parsing downstream of this table.
    *
    * `parent_idx` is the node_idx of the nearest ancestor ELEMENT (-1 when
    * the parent is the document root); `ancestors` lists all ancestor
    * element indices nearest-first. The per-entry ancestor list is a shared-
    * tail cons list during traversal, so building it is O(1) per node —
    * but ENCODING the rows is O(nodes × depth), which a malicious 100k-deep
    * document turns into a multi-GB row group. `maxAncestors` caps the
    * encoded list at the N nearest ancestors (default 64 ≫ real-world HTML
    * depth, which is ≲ 30 even on pathological pages): descendant matches
    * against ancestors beyond the cap are lost, matches through parents/
    * near ancestors — the ones that exist in real markup — are unaffected.
    * Set Int.MaxValue to disable.
    */
  final case class NodeRow(
      doc_id: Long,
      url: String,
      node_idx: Int,
      parent_idx: Int,
      ancestors: Seq[Int],
      tag: String,
      id: String,
      classes: Seq[String],
      attrs: Map[String, String])

  def explodeNodes(pages: DataFrame, maxAncestors: Int = 64): Dataset[NodeRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val withId =
      if (pages.columns.contains("doc_id")) pages
      else pages.withColumn("doc_id", lit(-1L))
    withId.select(col("doc_id").cast("long"), col("url"), col("html"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (docId, url, html) =>
          val root = HtmlParser.parse(
            new String(html, java.nio.charset.StandardCharsets.UTF_8))
          val out = scala.collection.mutable.ArrayBuffer.empty[NodeRow]
          val stack =
            new scala.collection.mutable.ArrayBuffer[(DomNode, List[Int])](32)
          var i = root.childNodes.length - 1
          while (i >= 0) { stack += ((root.childNodes(i), Nil)); i -= 1 }
          var idx = 0
          while (stack.nonEmpty) {
            val (node, anc) = stack.remove(stack.length - 1)
            node match {
              case e: Element =>
                val attrs = {
                  val b = Map.newBuilder[String, String]
                  val it2 = e.attributes.entrySet().iterator()
                  while (it2.hasNext) {
                    val kv = it2.next()
                    b += (kv.getKey -> kv.getValue)
                  }
                  b.result()
                }
                val encAnc = if (anc.lengthCompare(maxAncestors) <= 0) anc
                  else anc.take(maxAncestors)
                out += NodeRow(docId, url, idx, anc.headOption.getOrElse(-1),
                  encAnc, e.tagName, e.id, e.classNames.toSeq, attrs)
                val childAnc = idx :: anc
                idx += 1
                var j = e.childNodes.length - 1
                while (j >= 0) { stack += ((e.childNodes(j), childAnc)); j -= 1 }
              case _ =>
            }
          }
          out
        }
      }
  }

  /** Relational descendant combinator (`ancestorSel descendantSel` with
    * SPACE semantics — /root/reference/src/index.ts:418–454): elements
    * matching `descendantPred` that have ANY ancestor matching
    * `ancestorPred`. Pure Catalyst: explode the ancestors array and
    * equi-join on (doc_id, ancestor idx) — a shuffle-on-key plan that
    * broadcasts nothing and scans HTML zero times downstream of the node
    * table. Output: one row per matching descendant element (deduped —
    * multiple matching ancestors yield one row, like querySelectorAll).
    */
  def descendants(nodes: DataFrame,
      ancestorPred: org.apache.spark.sql.Column,
      descendantPred: org.apache.spark.sql.Column): DataFrame = {
    val anc = nodes.filter(ancestorPred)
      .select(col("doc_id"), col("node_idx").as("anc_idx"))
    val desc = nodes.filter(descendantPred)
      .select(col("doc_id"), col("node_idx"), explode(col("ancestors")).as("anc_idx"))
    desc.join(anc, Seq("doc_id", "anc_idx"))
      .select("doc_id", "node_idx").distinct()
  }

  /** Shared metric aggregate columns — single definition so the per-lang
    * metrics and the per-bucket lineage table can never diverge.
    */
  val metricAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("docs"),
    sum(when(col("parse_ok"), 1L).otherwise(0L)).as("parse_ok_docs"),
    sum("n_bytes").as("bytes_in"),
    sum(length(col("text_out")).cast("long")).as("chars_out"))

  /** Per-lang pipeline metrics (hash aggregation: partial+final for free). */
  def metrics(parsed: Dataset[ParsedDoc]): DataFrame =
    parsed.groupBy("lang").agg(
      metricAggs.head,
      metricAggs.tail :+ sum("n_links").as("links"): _*)
}
