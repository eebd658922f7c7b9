package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ExtractMain
import graft.functions.HtmlFunctions
import graft.ops.{Dedup, LinkGraph, PageMeta}
import graft.pipeline.{ExtractJob, TableIO}

/** What a workload pass sees: the session, the generated `pages` table,
  * the generator's expected values, and the tracer.
  */
final class Ctx(val spark: SparkSession, val work: Path, val expect: Map[String, Long],
    val props: Map[String, Double], val nproc: Int, val tracer: Tracer, val meter: Meter) {
  lazy val pages: DataFrame = spark.read.parquet(work.resolve("pages").toString)
  def docs: Long = expect("docs")
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)
}

/** A workload: one closed-loop pass computes the complete output. `pass`
  * runs the timed work and returns the (untimed) output check, which lists
  * every mismatch against the generator's values.
  */
trait Workload {
  def name: String
  /** The workload's input at `scale` × its benchmark size. */
  def generate(seed: Long, scale: Double): Generated
  /** The expectation a tampered smoke run perturbs. */
  def tamperKey: String
  /** Untimed passes after the warm-up pass, before measuring. A fixed count
    * (not a time), so both sides of a comparison run the same sequence.
    */
  def settlePasses: Int
  def pass(c: Ctx, dir: Path): () => Seq[String]
  /** Traced-run-only layer measurements beyond the pass's own spans;
    * `calls` are the kernel calls of a traced pass.
    */
  def layers(c: Ctx, calls: PassCalls): Map[String, Double]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "crawl_extract" => CrawlExtract
    case "selector_dense" => SelectorDense
    case "curate_commit" => CurateCommit
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def expectEq(c: Ctx, key: String, got: Long): Seq[String] = {
    val want = c.expect(key)
    if (want == got) Nil else Seq(s"$key: expected $want, got $got")
  }

  def observed(o: Observation): Map[String, Long] =
    o.get.map { case (k, v) => (k, if (v == null) 0L else v.asInstanceOf[Number].longValue) }

  def sumLong(c: Column): Column = coalesce(sum(c.cast("long")), lit(0L))
}

import Workloads._

/** Flagship main-content path: parquet scan → `ExtractJob.run` → noop
  * sink, with the output check riding the same job as an `Observation`.
  */
object CrawlExtract extends Workload {
  val name = "crawl_extract"
  def generate(seed: Long, scale: Double): Generated =
    Gen.Crawl.generate(seed, math.max(16, (2400 * scale).toInt))
  val tamperKey = "planted_text_crc"
  // the JIT compiles the kernel during the first passes; after four settle
  // passes, 18 timed passes showed no downward trend (measured on 4 cores)
  val settlePasses = 4

  /** Must match the generator's rule (Gen.Crawl). */
  private val planted = col("doc_id") % 8 === 3 && col("doc_id") % 7 =!= 0

  def pass(c: Ctx, dir: Path): () => Seq[String] = {
    val o = Observation("crawl_extract")
    c.span("pipeline.extract") {
      noop(ExtractJob.run(c.pages).toDF().observe(o,
        count(lit(1)).as("docs"),
        sumLong(when(col("parse_ok"), 1L).otherwise(0L)).as("parse_ok"),
        sumLong(col("n_links")).as("links"),
        sumLong(col("n_bytes")).as("bytes"),
        sumLong(when(planted, 1L).otherwise(0L)).as("planted"),
        sumLong(when(planted, crc32(encode(col("text_out"), "UTF-8"))).otherwise(0L))
          .as("planted_text_crc")))
    }
    () => {
      val m = observed(o)
      Seq("docs", "parse_ok", "links", "bytes", "planted", "planted_text_crc")
        .flatMap(k => expectEq(c, k, m(k)))
    }
  }

  // the pass parses and runs structuredText, and selects nothing
  def layers(c: Ctx, calls: PassCalls): Map[String, Double] = Layers.all(c, calls, Nil)
}

/** Many small element-dense pages and a fixed selector set, run through the
  * native `css_count` expression, the `cssFirstText` UDF and the relational
  * `explodeNodes` + `descendants` path; each is its own job.
  */
object SelectorDense extends Workload {
  import Gen.Dense._
  val name = "selector_dense"
  def generate(seed: Long, scale: Double): Generated =
    Gen.Dense.generate(seed, math.max(16, (2000 * scale).toInt))
  val tamperKey = "count.attr_eq"
  // as crawl_extract: ~6 passes until pass times stop falling
  val settlePasses = 6

  private def html = col("html").cast("string")

  /** Catalyst predicate for a compound part without attributes. */
  private def pred(p: Part): Column = {
    var c = lit(true)
    if (p.tag.nonEmpty) c = c && col("tag") === p.tag
    if (p.id.nonEmpty) c = c && col("id") === p.id
    p.classes.foreach(k => c = c && array_contains(col("classes"), k))
    c
  }

  def nodes(c: Ctx): DataFrame = ExtractJob.explodeNodes(c.pages).toDF()

  def pass(c: Ctx, dir: Path): () => Seq[String] = {
    val oc = Observation("css_count")
    c.span("functions.css_count") {
      val cols = CountSelectors.map(s => call_function("css_count_native", html, lit(s.css)).as(s.name))
      val df = c.pages.select(cols: _*)
      noop(df.observe(oc, sumLong(col(CountSelectors.head.name)).as(CountSelectors.head.name),
        CountSelectors.tail.map(s => sumLong(col(s.name)).as(s.name)): _*))
    }
    val of = Observation("css_first_text")
    c.span("functions.css_first_text") {
      val cols = FirstTextSelectors.map(s => HtmlFunctions.cssFirstText(html, lit(s.css)).as(s.name))
      val aggs = FirstTextSelectors.flatMap(s => Seq(
        count(col(s.name)).as(s"${s.name}.hits"),
        sumLong(crc32(encode(col(s.name), "UTF-8"))).as(s"${s.name}.crc")))
      noop(c.pages.select(cols: _*).observe(of, aggs.head, aggs.tail: _*))
    }
    val od = Observation("descendants")
    c.span("functions.descendants") {
      noop(ExtractJob.descendants(nodes(c), pred(DescAncestor), pred(DescTarget))
        .observe(od, count(lit(1)).as("desc_hits")))
    }
    () => {
      val counts = observed(oc)
      val firsts = observed(of)
      CountSelectors.flatMap(s => expectEq(c, s"count.${s.name}", counts(s.name))) ++
        FirstTextSelectors.flatMap(s => Seq("hits", "crc").flatMap(k =>
          expectEq(c, s"first.${s.name}.$k", firsts(s"${s.name}.$k")))) ++
        expectEq(c, "desc_hits", observed(od)("desc_hits"))
    }
  }

  def layers(c: Ctx, calls: PassCalls): Map[String, Double] = {
    // explodeNodes alone, so its time and row shape are not mixed with the
    // join that consumes it
    val o = Observation("explode")
    val t0 = System.nanoTime()
    c.span("pipeline.explode") {
      noop(nodes(c).observe(o, count(lit(1)).as("rows"), sumLong(size(col("ancestors"))).as("ancestors")))
    }
    val s = (System.nanoTime() - t0) / 1e9
    val m = observed(o)
    val bad = expectEq(c, "elements", m("rows")) ++ expectEq(c, "ancestors", m("ancestors"))
    if (bad.nonEmpty) throw new IllegalStateException(s"explode check failed: ${bad.mkString("; ")}")
    Map("pipeline.explode.s" -> s, "pipeline.explode.rows" -> m("rows").toDouble,
      "pipeline.explode.ancestors_per_row" -> m("ancestors").toDouble / math.max(1L, m("rows"))) ++
      Layers.all(c, calls, (CountSelectors ++ FirstTextSelectors).map(_.css))
  }
}

/** Training-data curation: extraction, near-duplicate clustering, dedup,
  * outlinks, integer PageRank and a bucketed commit of the survivors, each
  * step reading the table the previous one wrote.
  */
object CurateCommit extends Workload {
  val name = "curate_commit"
  def generate(seed: Long, scale: Double): Generated =
    Gen.Curate.generate(seed, math.max(32, (1000 * scale).toInt))
  val tamperKey = "clusters"
  // ~100 jobs per pass: job overhead sets its pace, but the first pass
  // after the warm-up one still runs ~15% slower (JIT), and runs agreed
  // better with it left out (measured on 4 cores)
  val settlePasses = 1

  def pass(c: Ctx, dir: Path): () => Seq[String] = {
    val spark = c.spark
    def at(n: String) = dir.resolve(n).toString
    c.span("pipeline.extract") {
      ExtractJob.run(c.pages).write.parquet(at("extracted"))
    }
    c.span("ops.dedup") {
      val docs = spark.read.parquet(at("extracted")).select(col("doc_id"), col("text_out").as("text"))
      val clusters = Dedup.nearDupClusters(docs)
      Dedup.dedupCorpus(docs.select("doc_id"), clusters).write.parquet(at("survivors"))
    }
    val survivors = spark.read.parquet(at("survivors"))
    val survivorPages = c.pages.join(survivors.select("doc_id"), "doc_id")
    c.span("ops.outlinks") {
      PageMeta.outlinks(survivorPages).toDF()
        .select(col("doc_id").as("src"),
          regexp_extract(col("href"), "^/p/([0-9]+)$", 1).cast("long").as("dst"))
        .join(survivors.select(col("doc_id").as("dst")), "dst")
        .select("src", "dst")
        .write.parquet(at("edges"))
    }
    val ranks = c.span("ops.pagerank") {
      LinkGraph.pageRankInt(survivors.select(col("doc_id").as("node")),
          spark.read.parquet(at("edges")), iters = Gen.Curate.PageRankIters)
        .agg(sumLong(col("rank")), sumLong(col("node") * col("rank"))).head()
    }
    c.span("pipeline.commit") {
      ExtractMain.runBuckets(spark, survivorPages, at("table"), Gen.Curate.Buckets,
        saltParts = c.nproc, failAtBucket = -1)
    }
    () => {
      val s = survivors.agg(count(lit(1)), sumLong(col("doc_id")),
        sumLong(col("doc_id") * col("cluster_size")), max(col("cluster_size")),
        sumLong(col("cluster_size"))).head()
      val table = at("table")
      val manifests = TableIO.committedBuckets(table).toSeq.sorted.map { b =>
        val json = Files.readString(Paths.get(table, "_manifests", s"bucket-$b.json"))
        (b, "\"rows\":([0-9]+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L))
      }
      expectEq(c, "docs", spark.read.parquet(at("extracted")).count()) ++
        expectEq(c, "clusters", s.getLong(0)) ++
        expectEq(c, "survivor_id_sum", s.getLong(1)) ++
        expectEq(c, "survivor_weighted_sum", s.getLong(2)) ++
        expectEq(c, "max_cluster", s.getLong(3)) ++
        expectEq(c, "docs", s.getLong(4)) ++
        expectEq(c, "edges", spark.read.parquet(at("edges")).count()) ++
        expectEq(c, "rank_sum", ranks.getLong(0)) ++
        expectEq(c, "rank_weighted_sum", ranks.getLong(1)) ++
        expectEq(c, "manifests", manifests.size.toLong) ++
        manifests.flatMap { case (b, rows) => expectEq(c, s"bucket.$b", rows) } ++
        expectEq(c, "committed_rows", manifests.map(_._2).sum) ++
        expectEq(c, "committed_rows", spark.read.parquet(table).count())
    }
  }

  def layers(c: Ctx, calls: PassCalls): Map[String, Double] = {
    val docs = ExtractJob.run(c.pages).toDF().select(col("doc_id"), col("text_out").as("text"))
    val dropped = c.span("ops.hot_buckets") {
      Dedup.hotBuckets(docs).agg(sumLong(col("n"))).head().getLong(0)
    }
    // PageMeta.outlinks selects `a` on every page it parses
    Map("ops.hot_bucket_rows_dropped" -> dropped.toDouble) ++
      Layers.all(c, calls, Seq("a"))
  }

  /** Bytes and files the commit wrote, from the pass's table directory. */
  def commitFiles(dir: Path): (Long, Long) = {
    val table = dir.resolve("table")
    if (!Files.isDirectory(table)) (0L, 0L)
    else {
      val s = Files.walk(table)
      try {
        val files = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-")).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }
}
