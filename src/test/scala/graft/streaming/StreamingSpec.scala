package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pipeline.{ExtractJob, Page}

/** Structured-Streaming form of the pipeline: same kernel per micro-batch,
  * watermarked windowed metrics.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def page(url: String, minute: Int, html: String) =
    Page(url, java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00"),
      html.getBytes("UTF-8"), null, "en")

  test("extraction runs per micro-batch over a stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Page]
    val q = ExtractJob.run(input.toDF())
      .writeStream.format("memory").queryName("parsed_stream")
      .outputMode("append").start()
    try {
      input.addData(
        page("u1", 0, "<span>o<p>a</p><p>b</p>c</span>"),
        page("u2", 1, "<div><h3>broken"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT url, parse_ok, text_out FROM parsed_stream ORDER BY url")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getString(2) == "o\na\nb\nc" && rows(0).getBoolean(1))
      assert(!rows(1).getBoolean(1))
    } finally q.stop()
  }

  test("streaming exact dedup drops repeats within the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Page]
    val q = ExtractStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        page("u1", 0, "<p>a</p>"),
        page("u1", 1, "<p>a-recrawl</p>"), // same url, same batch
        page("u2", 1, "<p>b</p>"))
      q.processAllAvailable()
      input.addData(page("u1", 2, "<p>a-again</p>")) // same url, later batch
      input.addData(page("u3", 3, "<p>c</p>"))
      q.processAllAvailable()
      val urls = spark.sql("SELECT url FROM dedup_stream")
        .collect().map(_.getString(0)).toSeq
      assert(urls.sorted == Seq("u1", "u2", "u3"))
    } finally q.stop()
  }

  test("boilerplate strip composes with the flagship pipeline (batch + stream plans)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val html = "<nav><a href=\"/\">Home</a></nav><div class=\"c\"><p>kept body</p></div>" +
      "<footer>chrome</footer>"
    val batch = Seq(page("u1", 0, html)).toDF()
    val parsed = graft.pipeline.ExtractJob.run(batch, stripBoilerplate = true).collect()
    assert(parsed.head.text_out == "kept body")
    // stats describe the emitted tree: nav/a/footer gone
    assert(parsed.head.n_links == 0)
    // same option through the streaming entry (identical map-only plan)
    val input = MemoryStream[Page]
    val q = graft.pipeline.ExtractJob.run(input.toDF(), stripBoilerplate = true)
      .writeStream.format("memory").queryName("strip_stream")
      .outputMode("append").start()
    try {
      input.addData(page("u2", 0, html))
      q.processAllAvailable()
      assert(spark.sql("SELECT text_out FROM strip_stream").head.getString(0) ==
        "kept body")
    } finally q.stop()
  }

  test("stateful host sessions emit on event-time timeout (flatMapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Page]
    val sessions = ExtractStream.hostSessions(
      ExtractJob.run(input.toDF()), gapMs = 120000L) // 2-minute gap
    val q = sessions.writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      input.addData(
        page("https://h1.example/a", 0, "<p>x</p>"),
        page("https://h1.example/b", 1, "<p><h3>bad"),
        page("https://h2.example/c", 0, "<p>y</p>"))
      q.processAllAvailable()
      // nothing emitted yet: watermark hasn't passed lastTs + gap
      assert(spark.sql("SELECT * FROM sessions_stream").count() == 0)
      // advance event time far beyond watermark delay (10 min) + gap
      input.addData(page("https://h3.example/z", 40, "<p>late</p>"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT host, docs, errors, bytes FROM sessions_stream ORDER BY host")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getString(0) == "h1.example" &&
        rows(0).getLong(1) == 2 && rows(0).getLong(2) == 1)
      assert(rows(1).getString(0) == "h2.example" &&
        rows(1).getLong(1) == 1 && rows(1).getLong(2) == 0)
    } finally q.stop()
  }

  test("batch hostSessionsBatch is the semantic twin of streaming hostSessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      page("https://h1.example/a", 0, "<p>x</p>"),
      page("https://h1.example/b", 1, "<p><h3>bad"),
      page("https://h2.example/c", 0, "<p>y</p>"),
      // 10 minutes later on h1: past the 2-minute gap → a second session
      page("https://h1.example/d", 11, "<p>z</p>"))
    // streaming pass: flush all sessions with a far-future watermark event
    val input = MemoryStream[Page]
    val q = ExtractStream.hostSessions(
      ExtractJob.run(input.toDF()), gapMs = 120000L)
      .writeStream.format("memory").queryName("twin_stream")
      .outputMode("append").start()
    val streamed =
      try {
        input.addData(corpus: _*)
        q.processAllAvailable()
        input.addData(page("https://flush.example/z", 59, "<p>late</p>"))
        q.processAllAvailable()
        spark.sql("SELECT host, docs, errors, bytes FROM twin_stream")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      } finally q.stop()
    // batch pass over the same corpus (flush page excluded — the stream
    // only used it to advance the watermark)
    val batch = ExtractStream.hostSessionsBatch(
      graft.pipeline.ExtractJob.run(corpus.toDF()).toDF(), gapSec = 120L)
      .select("host", "docs", "errors", "bytes")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(batch.size == 3) // h1 has TWO sessions (gap split), h2 one
  }

  test("watermarked windowed metrics aggregate per minute") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Page]
    val metrics = ExtractStream.windowedMetrics(ExtractJob.run(input.toDF()))
    val q = metrics.writeStream.format("memory").queryName("metrics_stream")
      .outputMode("append").start()
    try {
      input.addData(
        page("a", 0, "<p>x</p>"), page("b", 0, "<p><h3>bad"),
        page("c", 1, "<p>y</p>"))
      q.processAllAvailable()
      // advance the watermark far enough to close the earlier windows
      input.addData(page("z", 30, "<p>late</p>"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, docs, parse_errors FROM metrics_stream ORDER BY window.start")
        .collect()
      assert(rows.length >= 2)
      assert(rows(0).getLong(1) == 2 && rows(0).getLong(2) == 1) // minute 0
      assert(rows(1).getLong(1) == 1 && rows(1).getLong(2) == 0) // minute 1
    } finally q.stop()
  }

  test("streaming LSH near-dup candidates surface across micro-batches, capped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val near = "the quick brown fox jumps over the lazy dog again today now"
    val q = ExtractStream.nearDupCandidates(
      input.toDF().toDF("doc_id", "text"), maxBucket = 10)
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      input.addData(1L -> near, 2L -> "completely different content entirely here")
      q.processAllAvailable()
      val early = spark.sql("SELECT DISTINCT id1, id2 FROM neardup_stream").collect()
      assert(early.isEmpty) // nothing near-dup yet
      // second batch: a near-copy of doc 1 arrives later — the pair must
      // surface against the STATE, not within-batch co-occurrence
      input.addData(3L -> (near + " x"))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT id1, id2 FROM neardup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 3L)), s"pairs were $pairs")
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
    } finally q.stop()
  }

  test("streaming near-dup emitted multiset is exact: once per shared band; dedup matches batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val near = "the quick brown fox jumps over the lazy dog again today now"
    val corpus = Seq(
      1L -> near,
      2L -> near, // identical: shares ALL 8 bands with doc 1
      3L -> (near + " x"), // near-copy: shares some bands
      4L -> "completely different content entirely here")
    val q = ExtractStream.nearDupCandidates(
      input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_multiset")
      .outputMode("append").start()
    try {
      corpus.foreach { d => input.addData(d); q.processAllAvailable() }
      val rows = spark.sql(
        "SELECT id1, id2, band FROM neardup_multiset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      // CONTRACT: a pair emits exactly once per shared band — never twice
      // for the same (pair, band)
      assert(rows.length == rows.toSet.size, "same-band pair re-emitted")
      // identical docs share every band: pair (1,2) appears exactly 8 times
      assert(rows.count(r => r._1 == 1L && r._2 == 2L) == 8)
      // dedup-after equals the batch twin's distinct pair set (q35 path)
      val streamedDistinct = ExtractStream.dedupPairs(
        spark.table("neardup_multiset"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ops.Dedup.minhashCandidates(
        corpus.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedDistinct == batch,
        s"streamed=$streamedDistinct batch=$batch")
    } finally q.stop()
  }

  test("streaming crawl delta classifies new/unchanged/modified against state; batch-twin agrees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(String, String)]
    val q = ExtractStream.crawlDeltaStream(
      input.toDF().toDF("url", "text"))
      .writeStream.format("memory").queryName("delta_stream")
      .outputMode("append").start()
    try {
      // snapshot 1: two urls
      input.addData("u/a" -> "body A v1", "u/b" -> "body B v1")
      q.processAllAvailable()
      // snapshot 2: a unchanged, b modified, c new (b's 'gone' twin has no
      // streaming analogue - absence is not an event)
      input.addData("u/a" -> "body A v1", "u/b" -> "body B v2", "u/c" -> "body C v1")
      q.processAllAvailable()
      val rows = spark.sql("SELECT url, status FROM delta_stream").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(rows.count(_ == ("u/a", "new")) == 1)
      assert(rows.count(_ == ("u/a", "unchanged")) == 1)
      assert(rows.count(_ == ("u/b", "modified")) == 1)
      assert(rows.count(_ == ("u/c", "new")) == 1)
      // batch twin (q65 path): the second batch's statuses equal the batch
      // full-outer delta between the two snapshots, minus 'gone'
      val old = Seq(("u/a", "body A v1"), ("u/b", "body B v1")).toDF("url", "text")
      val nw = Seq(("u/a", "body A v1"), ("u/b", "body B v2"),
        ("u/c", "body C v1")).toDF("url", "text")
      val batch = graft.ops.CrawlDelta.delta(old, nw, keyCol = "url")
        .filter(org.apache.spark.sql.functions.col("status") =!= "gone")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val secondBatch = rows.toSet -- Set(("u/a", "new"), ("u/b", "new"))
      assert(secondBatch == batch, s"stream=$secondBatch batch=$batch")
    } finally q.stop()
  }

  test("streaming near-dup state respects the hot-bucket cap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val same = "identical text lands every band in the same bucket always"
    val q = ExtractStream.nearDupCandidates(
      input.toDF().toDF("doc_id", "text"), maxBucket = 3)
      .writeStream.format("memory").queryName("neardup_cap_stream")
      .outputMode("append").start()
    try {
      input.addData((1L to 10L).map(_ -> same): _*)
      q.processAllAvailable()
      val members = spark.sql(
        "SELECT max(greatest(id1, id2)) FROM neardup_cap_stream").collect()
      // only the first 3 (by doc_id) joined any bucket: pairs max out at 3
      assert(members.head.getLong(0) == 3L)
      val perBucket = spark.sql(
        "SELECT band, bucket, count(DISTINCT id1 || '-' || id2) AS c " +
          "FROM neardup_cap_stream GROUP BY band, bucket")
        .collect().map(_.getLong(2))
      assert(perBucket.forall(_ == 3L)) // 3 members -> C(3,2) = 3 pairs
    } finally q.stop()
  }
}
