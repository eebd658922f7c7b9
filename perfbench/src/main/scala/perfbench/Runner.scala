package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** One process of a benchmark run (`run.py` starts it; see README.md).
  *
  * With `--gen 1` it only generates the workload's tables into --work;
  * otherwise it sets up and runs closed-loop passes for --seconds.
  *
  * Set-up time runs from process start to the end of the untimed warm-up
  * pass; the generator runs in a process of its own, so none of its time
  * (or JIT warm-up) lands in set-up. Results go to --out as one JSON
  * object.
  */
object Runner {

  /** Every per-layer metric, in BENCHMARK.json order; a layer the workload
    * does not call reports 0.
    */
  val PerLayer: Seq[String] = Seq(
    "kernel.parse.self_s", "kernel.parse.calls", "kernel.structured_text.self_s",
    "kernel.structured_text.calls",
    "kernel.select.self_s", "kernel.select.calls", "kernel.decode.self_s",
    "kernel.parses_per_doc", "kernel.alloc_kb_per_doc", "kernel.mb_per_s_1t",
    "kernel.mb_per_s_nt", "kernel.scaling_eff",
    "pipeline.codec_decode.self_s", "pipeline.extract.s", "pipeline.overhead_share",
    "pipeline.ladder.codec_s", "pipeline.ladder.decode_s", "pipeline.ladder.parse_s",
    "pipeline.ladder.structured_text_s", "pipeline.ladder.extract_s",
    "pipeline.explode.s", "pipeline.explode.rows", "pipeline.explode.ancestors_per_row",
    "pipeline.commit.s", "pipeline.commit.files", "pipeline.commit.bytes_per_input_byte",
    "functions.css_count.s", "functions.css_first_text.s", "functions.descendants.s",
    "ops.dedup.s", "ops.dedup.jobs", "ops.pagerank.s", "ops.pagerank.jobs",
    "ops.outlinks.s", "ops.hot_bucket_rows_dropped", "ops.checkpoint_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.busy_s", "spark.cpu_s", "spark.gc_share", "spark.wait_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.peak_exec_mem_mb", "spark.task_p50_ms", "spark.task_tail_ms", "spark.skew",
    "trace.overhead", "trace.docs_per_s", "trace.untraced_docs_per_s", "trace.spans")

  final case class PassRec(id: Int, traced: Boolean, wallS: Double,
      failures: Seq[String], stats: PassStats, commitFiles: Long, commitBytes: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => (k.stripPrefix("--"), v) }.toMap
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val nproc = opt("nproc").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    val result = mutable.LinkedHashMap.empty[String, Any]

    if (opt.getOrElse("gen", "0") == "1") {
      try {
        val t0 = System.nanoTime()
        writeTables(workload.generate(seed, opt.getOrElse("scale", "1").toDouble), work, nproc)
        result += "gen_s" -> (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable => result += "error" -> describe(e)
      } finally Files.writeString(out, Json.write(result))
      return
    }

    val spark = session(nproc, work)
    val sessionS = (System.currentTimeMillis() - startMs) / 1e3
    try {
      val (expect0, props) = readExpect(work)
      val expect =
        if (opt.getOrElse("tamper", "0") == "1")
          expect0.updated(workload.tamperKey, expect0(workload.tamperKey) + 1)
        else expect0
      val meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      spark.listenerManager.register(meter)
      val tracer = new Tracer(spark.sparkContext)
      val c = new Ctx(spark, work, expect, props, nproc, tracer, meter)

      val warm = runPass(c, workload, -1, traced = false)
      val setupS = (System.currentTimeMillis() - startMs) / 1e3
      result ++= Seq("workload" -> workload.name, "seed" -> seed, "nproc" -> nproc,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warm.wallS,
        "docs" -> c.docs, "props" -> props)

      // a traced run settles at least once, so its first untraced pass is
      // not the cold one
      val settlePasses = if (traced) math.max(1, workload.settlePasses) else workload.settlePasses
      val settle = (1 to settlePasses).flatMap(k =>
        runPass(c, workload, -1 - k, traced = false).failures)
      result += "warmup_failures" -> (warm.failures ++ settle)
      val passes = mutable.ArrayBuffer.empty[PassRec]
      val t0 = System.nanoTime()
      var i = 0
      // at least two passes, so a workload whose pass outlasts --seconds
      // still reports a median over more than one; a traced run makes
      // whole untraced-traced-traced-untraced groups, so pass order does
      // not favour either kind when the overhead compares them
      def more = passes.size < (if (traced) 4 else 2) ||
        (System.nanoTime() - t0) / 1e9 < seconds || (traced && passes.size % 4 != 0)
      while (more) {
        passes += runPass(c, workload, i, traced && (i % 4 == 1 || i % 4 == 2))
        i += 1
      }
      val plain = passes.filterNot(_.traced).toSeq
      val failed = passes.count(_.failures.nonEmpty)
      result ++= Seq(
        "attempted" -> passes.size, "failed" -> failed,
        "failures" -> passes.flatMap(_.failures).distinct.take(20),
        "pass_walls_s" -> passes.map(_.wallS),
        "pass_traced" -> passes.map(_.traced),
        "pass_jobs" -> passes.map(_.stats.jobs),
        "pass_peak_storage_mb" -> passes.map(_.stats.peakStorageB / 1e6),
        "docs_per_s" -> c.docs / median(plain.map(_.wallS)),
        "peak_storage_mb" -> median(plain.map(_.stats.peakStorageB / 1e6)))
      if (traced) {
        val layers = perLayer(c, workload, passes.toSeq)
        result += "per_layer" -> layers
        result += "spans_file" -> writeSpans(tracer, Paths.get(opt("spans")))
      }
    } catch {
      case e: Throwable => result += "error" -> describe(e)
    } finally {
      Files.writeString(out, Json.write(result))
      spark.stop()
    }
  }

  private def describe(e: Throwable): String =
    e.toString + "\n" + e.getStackTrace.take(12).mkString("\n")

  def session(nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }

  /** The program's only input: the `pages` table, written with the plain
    * parquet writer (no Spark in the generator process) in 4 × nproc files.
    * Pages are dealt to files largest first, in back-and-forth order, so
    * every file (and so every scan task) holds nearly the same bytes under
    * any seed; with heavy-tailed sizes, dealing by id left files that
    * differed by ~15% and made the pass time depend on the seed.
    */
  def writeTables(g: Generated, work: Path, nproc: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LT, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .required(INT64).named("doc_id")
      .optional(BINARY).as(LT.stringType()).named("url")
      .optional(INT64).as(LT.timestampType(true, LT.TimeUnit.MICROS)).named("warc_ts")
      .optional(BINARY).named("html")
      .optional(BINARY).as(LT.stringType()).named("lang")
      .named("pages")
    val groups = new SimpleGroupFactory(schema)
    val dir = work.resolve("pages")
    Files.createDirectories(dir)
    val files = 4 * nproc
    val fileOf = new Array[Int](g.pages.length)
    g.pages.indices.sortBy(i => -g.pages(i).html.length).zipWithIndex.foreach { case (i, k) =>
      fileOf(i) = if ((k / files) % 2 == 0) k % files else files - 1 - k % files
    }
    (0 until files).foreach { f =>
      val w = ExampleParquetWriter.builder(
          new org.apache.hadoop.fs.Path(dir.resolve(f"part-$f%05d.parquet").toUri))
        .withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      try {
        g.pages.indices.filter(fileOf(_) == f).foreach { i =>
          val p = g.pages(i)
          w.write(groups.newGroup()
            .append("doc_id", p.docId)
            .append("url", p.url)
            .append("warc_ts", p.ts * 1000000L)
            .append("html", Binary.fromConstantByteArray(p.html.getBytes(UTF_8)))
            .append("lang", p.lang))
        }
      } finally w.close()
    }
    val props = new java.util.Properties
    g.expect.foreach { case (k, v) => props.setProperty(s"expect.$k", v.toString) }
    g.props.foreach { case (k, v) => props.setProperty(s"prop.$k", v.toString) }
    val out = Files.newBufferedWriter(work.resolve("expect.properties"))
    try props.store(out, "generated expectations and input properties") finally out.close()
  }

  def readExpect(work: Path): (Map[String, Long], Map[String, Double]) = {
    val props = new java.util.Properties
    val r = Files.newBufferedReader(work.resolve("expect.properties"))
    try props.load(r) finally r.close()
    val m = props.asScala.toMap
    (m.collect { case (k, v) if k.startsWith("expect.") => (k.stripPrefix("expect."), v.toLong) },
      m.collect { case (k, v) if k.startsWith("prop.") => (k.stripPrefix("prop."), v.toDouble) })
  }

  def runPass(c: Ctx, w: Workload, id: Int, traced: Boolean): PassRec = {
    val dir = c.work.resolve("passes").resolve(s"pass-$id")
    Files.createDirectories(dir)
    // outside the timed window: collect what earlier passes left, so the
    // ContextCleaner does not do that work inside this pass
    BenchBus.settle(c.spark.sparkContext)
    c.tracer.enabled = traced
    c.tracer.pass = id
    c.meter.begin(c.spark.sparkContext)
    val t0 = System.nanoTime()
    var check: () => Seq[String] = null
    var thrown: Seq[String] = Nil
    try check = c.span("pass")(w.pass(c, dir))
    catch { case e: Exception => thrown = Seq(s"pass threw: $e") }
    val wall = (System.nanoTime() - t0) / 1e9
    c.tracer.enabled = false
    val stats = c.meter.end(c.spark.sparkContext)
    val failures =
      if (check == null) thrown
      else try check() catch { case e: Exception => Seq(s"check threw: $e") }
    val (files, bytes) = CurateCommit.commitFiles(dir)
    // drop what the pass still holds cached, so passes do not inherit each
    // other's blocks
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    deleteTree(dir)
    PassRec(id, traced, wall, failures, stats, files, bytes)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest of p90/p99/p999 with at least ten samples beyond it. */
  def tailPercentile(n: Int): Double =
    Seq(0.999, 0.99, 0.9).find(p => n * (1 - p) >= 10).getOrElse(0.5)

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
  }

  def perLayer(c: Ctx, w: Workload, passes: Seq[PassRec]): Map[String, Any] = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    def med(f: PassRec => Double): Double = median(traced.map(f))
    val m = mutable.LinkedHashMap.empty[String, Double]
    PerLayer.foreach(k => m(k) = 0.0)
    // spans of the pass: total time per layer call
    val names = Seq("pipeline.extract", "pipeline.commit", "functions.css_count",
      "functions.css_first_text", "functions.descendants", "ops.dedup",
      "ops.pagerank", "ops.outlinks")
    val perPass = traced.map(p => c.tracer.selfTimes(p.id))
    names.foreach { n =>
      if (perPass.exists(_.contains(n)))
        m(s"$n.s") = median(perPass.map(_.get(n).map(_._1).getOrElse(0.0)))
    }
    m("ops.dedup.jobs") = med(_.stats.jobsByGroup.getOrElse("ops.dedup", 0).toDouble)
    m("ops.pagerank.jobs") = med(_.stats.jobsByGroup.getOrElse("ops.pagerank", 0).toDouble)
    m("ops.checkpoint_mb") = med(_.stats.peakRddB / 1e6)
    m("kernel.parse.calls") = med(_.stats.parses.toDouble)
    m("kernel.structured_text.calls") = med(_.stats.texts.toDouble)
    m("kernel.select.calls") = med(_.stats.selects.toDouble)
    m("kernel.parses_per_doc") = m("kernel.parse.calls") / c.docs
    if (w == CurateCommit) {
      m("pipeline.commit.files") = med(_.commitFiles.toDouble)
      m("pipeline.commit.bytes_per_input_byte") = med(_.commitBytes.toDouble) / c.props("bytes")
    }
    m("spark.jobs") = med(_.stats.jobs.toDouble)
    m("spark.stages") = med(_.stats.stages.toDouble)
    m("spark.tasks") = med(_.stats.tasks.toDouble)
    m("spark.failed_tasks") = med(_.stats.failedTasks.toDouble)
    m("spark.busy_s") = med(_.stats.busyS)
    m("spark.cpu_s") = med(_.stats.cpuS)
    m("spark.gc_share") = med(p => p.stats.gcS / math.max(p.stats.busyS, 1e-9))
    m("spark.wait_s") = med(p => math.max(0.0, p.wallS - p.stats.jobWallS) + p.stats.schedDelayS / c.nproc)
    m("spark.shuffle_write_mb") = med(_.stats.shuffleWriteB / 1e6)
    m("spark.shuffle_read_mb") = med(_.stats.shuffleReadB / 1e6)
    m("spark.spill_mb") = med(_.stats.spillB / 1e6)
    m("spark.peak_exec_mem_mb") = med(_.stats.peakExecMemB / 1e6)
    val durs = traced.flatMap(_.stats.taskRecs.map(_.durMs.toDouble))
    val tailP = tailPercentile(durs.size)
    m("spark.task_p50_ms") = percentile(durs, 0.5)
    m("spark.task_tail_ms") = percentile(durs, tailP)
    m("spark.skew") = med { p =>
      val byStage = p.stats.taskRecs.groupBy(_.stage)
      if (byStage.isEmpty) 0.0
      else {
        val largest = byStage.values.maxBy(_.map(_.durMs).sum).map(_.durMs.toDouble)
        largest.max / math.max(1.0, median(largest))
      }
    }
    val tracedWall = median(traced.map(_.wallS))
    val plainWall = median(plain.map(_.wallS))
    m("trace.overhead") = tracedWall / plainWall - 1.0
    m("trace.docs_per_s") = c.docs / tracedWall
    m("trace.untraced_docs_per_s") = c.docs / plainWall
    m("trace.spans") = c.tracer.spans.count(s => s != null && s.pass >= 0).toDouble / math.max(1, traced.size)
    // layer tables outside the timed passes
    c.tracer.enabled = true
    c.tracer.pass = -2
    val calls = PassCalls(m("kernel.parse.calls"), m("kernel.structured_text.calls"),
      m("kernel.select.calls"))
    w.layers(c, calls).foreach { case (k, v) => m(k) = v }
    c.tracer.enabled = false
    val unknown = m.keySet.toSet -- PerLayer
    require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
    Map("metrics" -> m.toMap, "task_tail_percentile" -> tailP,
      "traced_passes" -> traced.size, "untraced_passes" -> plain.size)
  }

  def writeSpans(t: Tracer, path: Path): String = {
    val lines = t.spans.filter(_ != null).map { s =>
      Json.write(Map("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(path, lines.asJava, UTF_8)
    path.toString
  }
}

/** Minimal JSON writer for the result record. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    sb += '"'
    sb.toString
  }
}
