package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._

import graft.kernel.{HtmlParser, Query}
import graft.pipeline.ExtractJob

/** Median kernel calls per traced pass, from its executed plans. */
final case class PassCalls(parses: Double, texts: Double, selects: Double)

/** Traced-run layer tables that are not spans of the pass itself: the
  * `GapProbe` ladder (codec, +decode, +parse, +structuredText, full
  * `ExtractJob`), the kernel self times and allocation that `StProbe`
  * sampled, and the 1→nproc thread scaling `ThreadProbe` printed.
  * All run over the workload's own generated pages.
  */
object Layers {
  private val Repeats = 3

  private def wall(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Each rung adds one layer on top of the previous one; every rung is a
    * complete job (its per-row results are summed and collected).
    */
  def pipelineLadder(c: Ctx, unit: Map[String, Double]): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val ds = c.pages.select(col("doc_id").cast("long"), col("url"), col("warc_ts"),
      col("html"), col("lang")).as[(Long, String, java.sql.Timestamp, Array[Byte], String)]
    def rung(name: String)(f: => Unit): Double =
      Runner.median((1 to Repeats).map(_ => c.span(s"pipeline.ladder.$name")(wall(f))))
    val codec = rung("codec") {
      ds.mapPartitions(it => it.map(_._4.length.toLong)).agg(sum("value")).collect()
    }
    val decode = rung("decode") {
      ds.mapPartitions(it => it.map(r => new String(r._4, UTF_8).length.toLong))
        .agg(sum("value")).collect()
    }
    val parse = rung("parse") {
      ds.mapPartitions(it => it.map(r =>
        HtmlParser.parse(new String(r._4, UTF_8)).childNodes.length.toLong))
        .agg(sum("value")).collect()
    }
    val text = rung("structured_text") {
      ds.mapPartitions(it => it.map(r =>
        HtmlParser.parse(new String(r._4, UTF_8)).structuredText.length.toLong))
        .agg(sum("value")).collect()
    }
    // the full extraction, once more under the meter for its busy time
    c.meter.begin(c.spark.sparkContext)
    val extract = rung("extract")(Workloads.noop(ExtractJob.run(c.pages).toDF()))
    val busy = c.meter.end(spark.sparkContext).busyS / Repeats
    // the rung parses and runs structuredText once per page
    val kernelS = (unit("parse_s") + unit("text_s")) * c.docs
    Map(
      "pipeline.ladder.codec_s" -> codec,
      "pipeline.ladder.decode_s" -> decode,
      "pipeline.ladder.parse_s" -> parse,
      "pipeline.ladder.structured_text_s" -> text,
      "pipeline.ladder.extract_s" -> extract,
      "pipeline.codec_decode.self_s" -> decode,
      "pipeline.overhead_share" -> (1.0 - kernelS / math.max(busy, 1e-9)))
  }

  /** Per-call kernel timing inside Spark tasks, in a job of its own over
    * the workload's pages: every page is decoded, parsed and run through
    * `structuredText` once, and, if the workload selects, its root is
    * queried with each of `selectors`; the bytes each task thread allocates
    * around every call are read too. That gives a time and an allocation
    * per call, which `kernelSelf` multiplies by the calls the pass made.
    */
  def kernelUnits(c: Ctx, selectors: Seq[String]): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val sels = selectors.toArray
    val runs = (1 to Repeats).map { _ =>
      c.span("kernel.self") {
        c.pages.select(col("html")).as[Array[Byte]].mapPartitions { it =>
          val tmx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
          val compiled = sels.map(s => Query.compileUnion(s))
          // decode, parse, text, select ns; parse, text, select alloc bytes; docs
          val acc = new Array[Long](8)
          it.foreach { h =>
            val a0 = tmx.getCurrentThreadAllocatedBytes
            val t0 = System.nanoTime()
            val s = new String(h, UTF_8)
            val t1 = System.nanoTime()
            val root = HtmlParser.parse(s)
            val t2 = System.nanoTime()
            val a1 = tmx.getCurrentThreadAllocatedBytes
            root.structuredText
            val t3 = System.nanoTime()
            val a2 = tmx.getCurrentThreadAllocatedBytes
            var k = 0
            while (k < compiled.length) { Query.querySelectorAll(root, compiled(k)); k += 1 }
            val t4 = System.nanoTime()
            val a3 = tmx.getCurrentThreadAllocatedBytes
            acc(0) += t1 - t0; acc(1) += t2 - t1; acc(2) += t3 - t2; acc(3) += t4 - t3
            acc(4) += a1 - a0; acc(5) += a2 - a1; acc(6) += a3 - a2; acc(7) += 1
          }
          Iterator(acc)
        }.collect().reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      }
    }
    def med(i: Int) = Runner.median(runs.map(_(i).toDouble))
    val docs = math.max(1.0, med(7))
    val selectCalls = math.max(1.0, docs * sels.length)
    Map("decode_s" -> med(0) / 1e9 / docs, "parse_s" -> med(1) / 1e9 / docs,
      "text_s" -> med(2) / 1e9 / docs, "select_s" -> med(3) / 1e9 / selectCalls,
      "parse_b" -> med(4) / docs, "text_b" -> med(5) / docs, "select_b" -> med(6) / selectCalls)
  }

  /** Kernel self time of a pass: the isolated per-call time of
    * [[kernelUnits]] times the calls the pass made (`calls`, counted in its
    * executed plans). Each input is decoded once per parse.
    */
  def kernelSelf(c: Ctx, unit: Map[String, Double], calls: PassCalls): Map[String, Double] =
    Map(
      "kernel.decode.self_s" -> unit("decode_s") * calls.parses,
      "kernel.parse.self_s" -> unit("parse_s") * calls.parses,
      "kernel.structured_text.self_s" -> unit("text_s") * calls.texts,
      "kernel.select.self_s" -> unit("select_s") * calls.selects,
      "kernel.alloc_kb_per_doc" -> (unit("parse_b") * calls.parses +
        unit("text_b") * calls.texts + unit("select_b") * calls.selects) / c.docs / 1024.0)

  /** Pure-JVM parse + structuredText throughput on 1 thread and on nproc
    * threads over the same documents (no Spark in the loop).
    */
  def scaling(c: Ctx): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val docs = c.pages.select(col("html").cast("string")).as[String].collect()
    val bytes = docs.map(_.getBytes(UTF_8).length.toLong)
    def rate(threads: Int, seconds: Double): Double = {
      val done = new java.util.concurrent.atomic.LongAdder
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var i = t * docs.length / threads
          var local = 0L
          while (System.nanoTime() < deadline) {
            val k = i % docs.length
            HtmlParser.parse(docs(k)).structuredText
            local += bytes(k)
            i += 1
          }
          done.add(local)
        })
        th.start(); th
      }
      ts.foreach(_.join())
      done.sum() / ((System.nanoTime() - t0) / 1e9)
    }
    rate(c.nproc, 0.5) // warm every thread's path
    val one = rate(1, 1.0)
    val all = rate(c.nproc, 1.0)
    Map("kernel.mb_per_s_1t" -> one / 1e6, "kernel.mb_per_s_nt" -> all / 1e6,
      "kernel.scaling_eff" -> all / (c.nproc * one))
  }

  /** Every table above, over the workload's pages; `selectors` are the
    * selectors the workload's pass runs.
    */
  def all(c: Ctx, calls: PassCalls, selectors: Seq[String]): Map[String, Double] = {
    val unit = kernelUnits(c, if (calls.selects > 0) selectors else Nil)
    kernelSelf(c, unit, calls) ++ pipelineLadder(c, unit) ++ scaling(c)
  }
}
