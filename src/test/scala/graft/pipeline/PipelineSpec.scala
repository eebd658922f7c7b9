package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._

/** Tier-2 tests: kernel semantics through the full Dataset pipeline, table
  * IO / resume, dedup sketches, ANN, multimodal stub (SURVEY.md §5).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pagesOf(html: String*): DataFrame = {
    import spark.implicits._
    html.zipWithIndex.map { case (h, i) =>
      Page(s"https://t/$i", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        h.getBytes("UTF-8"), null, "en")
    }.toDF()
  }

  /** Writes and commits bucket `b` of `bucketed`, as a job would. */
  private def commitSlice(bucketed: DataFrame, dir: String, b: Long): Unit = {
    val slice = bucketed.filter(col(TableIO.BucketCol) === b)
    TableIO.writeBucketData(slice, dir, b)
    TableIO.commitBucket(dir, b, slice.count())
  }

  /** `n` pages one hour apart, so page i lands in bucket i % nBuckets; every
    * third page leaves a tag open.
    */
  private def hourlyPages(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, s"https://h${i % 3}.example/p$i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 3600L)),
        (if (i % 3 == 0) s"<div><p>page $i" else s"<div><p>page $i</p></div>")
          .getBytes("UTF-8"), "en")
    }.toDF("doc_id", "url", "warc_ts", "html", "lang")
  }

  test("flagship fixture is byte-identical through the Dataset pipeline") {
    val parsed = ExtractJob.run(pagesOf("<span>o<p>a</p><p>b</p>c</span>")).collect()
    assert(parsed.length == 1)
    assert(parsed.head.text_out == "o\na\nb\nc")
    assert(parsed.head.parse_ok)
  }

  test("pipeline output matches direct kernel output on a real corpus page") {
    val p = java.nio.file.Paths.get("/root/reference/test/html/google.html")
    assume(java.nio.file.Files.exists(p))
    val html = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val viaPipeline = ExtractJob.run(pagesOf(html)).collect().head
    val direct = graft.kernel.HtmlParser.parse(html)
    assert(viaPipeline.text_out == direct.structuredText)
    assert(viaPipeline.parse_ok == direct.valid)
  }

  test("salted repartition preserves results exactly") {
    val html = (0 until 50).map(i => s"<div><p>doc $i</p></div>")
    val plain = ExtractJob.run(pagesOf(html: _*)).collect().map(d => d.url -> d.text_out).toMap
    val salted = ExtractJob.run(pagesOf(html: _*), saltPartitions = 4)
      .collect().map(d => d.url -> d.text_out).toMap
    assert(plain == salted)
  }

  test("TableIO bucket commit + resume skips committed buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tbl").toString
    import spark.implicits._
    val df = (0 until 20).map { i =>
      (s"u$i", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 3600L)), i)
    }.toDF("url", "warc_ts", "v")
    val nBuckets = 4
    val bucketed = TableIO.withBucket(df, nBuckets)
    // commit buckets 0 and 1
    Seq(0L, 1L).foreach(commitSlice(bucketed, dir, _))
    assert(TableIO.committedBuckets(dir) == Set(0L, 1L))
    val pending = TableIO.pendingOnly(df, dir, nBuckets)
    val pendingBuckets = pending.select(TableIO.BucketCol).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(pendingBuckets == Set(2L, 3L))
    // idempotent re-commit: same rows, no duplicates
    commitSlice(bucketed, dir, 1L)
    val rows = spark.read.parquet(s"$dir/${TableIO.BucketCol}=1").count()
    assert(rows == bucketed.filter(col(TableIO.BucketCol) === 1L).count())
  }

  test("snapshot log gives time-travel reads over the commit history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    import spark.implicits._
    val df = (0 until 20).map { i =>
      (s"u$i", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 3600L)), i)
    }.toDF("url", "warc_ts", "v")
    val bucketed = TableIO.withBucket(df, 4)
    Seq(0L, 1L, 2L).foreach(commitSlice(bucketed, dir, _))
    val log = TableIO.snapshots(dir)
    assert(log.map(_._1) == Seq(1L, 2L, 3L)) // one snapshot per commit
    assert(log.last._2 == Set(0L, 1L, 2L)) // full committed set recorded
    // time travel: state as of snapshot 1 sees only bucket 0's rows
    val asOf1 = TableIO.readSnapshot(spark, dir, 1L)
    assert(asOf1.count() ==
      bucketed.filter(col(TableIO.BucketCol) === 0L).count())
    // latest sees all three buckets; pre-history is empty
    assert(TableIO.readSnapshot(spark, dir).count() ==
      bucketed.filter(col(TableIO.BucketCol) < 3L).count())
    assert(TableIO.readSnapshot(spark, dir, 0L).isEmpty)
    // a re-commit appends a NEW snapshot (Iceberg-style append-only log)
    commitSlice(bucketed, dir, 1L)
    assert(TableIO.snapshots(dir).map(_._1).last == 4L)
    assert(TableIO.readSnapshot(spark, dir, 3L).count() == asOf1.count() +
      bucketed.filter(col(TableIO.BucketCol).isin(1L, 2L)).count())
  }

  test("reconcileSnapshots repairs the commit→snapshot crash window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reconcile").toString
    import spark.implicits._
    val df = (0 until 20).map { i =>
      (s"u$i", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 3600L)), i)
    }.toDF("url", "warc_ts", "v")
    val bucketed = TableIO.withBucket(df, 4)
    commitSlice(bucketed, dir, 0L)
    // crash window: bucket 1's data + manifest land but the process dies
    // before its snapshot — the latest snapshot under-reports the table
    commitSlice(bucketed, dir, 1L)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_snapshots", "snap-000002.json"))
    assert(TableIO.committedBuckets(dir) == Set(0L, 1L))
    assert(TableIO.snapshots(dir).last._2 == Set(0L))
    // reconcile appends exactly one catch-up snapshot with the true set
    assert(TableIO.reconcileSnapshots(dir).nonEmpty)
    assert(TableIO.snapshots(dir).last._2 == Set(0L, 1L))
    assert(TableIO.readSnapshot(spark, dir).count() ==
      bucketed.filter(col(TableIO.BucketCol) < 2L).count())
    // no drift → no-op (idempotent on every job start)
    assert(TableIO.reconcileSnapshots(dir).isEmpty)
  }

  test("trainShards: deterministic, dense per-shard positions, decorrelated from doc order") {
    import spark.implicits._
    val docs = (0L until 400L).map(Tuple1(_)).toDF("doc_id")
    val a = TableIO.trainShards(docs, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    val b = TableIO.trainShards(docs, nShards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq) // no RNG state: identical on every run
    // positions are dense 0..n-1 within each shard
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0 until rows.length),
        s"shard $shard positions not dense")
    }
    // every shard is populated, none hoards (hash-uniform first byte)
    val sizes = a.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size == 8)
    assert(sizes.values.max < 400 / 2)
    // the shuffle decorrelates document order: consecutive doc_ids do not
    // sit at consecutive positions of one shard
    val sameShardAdjacent = (0L until 399L).count { i =>
      val ra = a(i.toInt); val rb = a(i.toInt + 1)
      ra._2 == rb._2 && math.abs(ra._3 - rb._3) == 1
    }
    assert(sameShardAdjacent < 40, s"order leaked: $sameShardAdjacent adjacent pairs")
  }

  test("trainShards: balanced and fully populated at nShards=256; sizing helper; bounds enforced") {
    import spark.implicits._
    // the scale contract: one task per shard, so nShards grows with the
    // corpus — at 256 shards the 48-bit key must populate EVERY shard
    // near-uniformly (the old first-byte key capped usable shards at 256;
    // beyond that they would sit empty)
    val docs = (0L until 5000L).map(Tuple1(_)).toDF("doc_id")
    val sizes = TableIO.trainShards(docs, nShards = 256).collect()
      .map(r => r.getLong(1)).groupBy(identity).view.mapValues(_.length)
    assert(sizes.size == 256, s"only ${sizes.size}/256 shards populated")
    // binomial(5000, 1/256): mean ~19.5, sd ~4.4 — [2, 45] is >5 sd slack
    assert(sizes.values.min >= 2 && sizes.values.max <= 45,
      s"imbalance: min=${sizes.values.min} max=${sizes.values.max}")
    // sizing helper: ~20 rows per shard target -> 250 shards
    val bySize = TableIO.trainShardsBySize(docs, targetShardRows = 20L)
      .select("shard").distinct().count()
    assert(bySize == 250L, s"expected 250 shards, got $bySize")
    intercept[IllegalArgumentException] {
      TableIO.trainShards(docs, nShards = 0)
    }
    intercept[IllegalArgumentException] {
      TableIO.trainShards(docs, nShards = (1 << 20) + 1)
    }
  }

  test("packSequences: boundary crossing, offsets, and group-size independence") {
    import spark.implicits._
    // doc 0: 3 toks, doc 1: 5 toks, doc 2: 6 toks, doc 3: 0 toks (skipped),
    // doc 4: 2 toks; binTokens=4 → stream cuts at 4, 8, 12:
    //   doc0 [0,3) bin0; doc1 [3,8) bins 0+1; doc2 [8,14) bins 2+3;
    //   doc4 [14,16) bin3
    val docs = Seq(
      (0L, "a b c"), (1L, "d e f g h"), (2L, "i j k l m n"),
      (3L, "   "), (4L, "o p")).toDF("doc_id", "text")
    val rows = TableIO.packSequences(docs, binTokens = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(rows.toSeq == Seq(
      (0L, 0L, 0L, 3L), (0L, 1L, 3L, 1L),
      (1L, 1L, 0L, 4L),
      (2L, 2L, 0L, 4L), (3L, 2L, 0L, 2L), (3L, 4L, 2L, 2L)))
    // per-doc token counts reassemble exactly; per-bin fills never exceed B
    assert(rows.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap ==
      Map(0L -> 3L, 1L -> 5L, 2L -> 6L, 4L -> 2L))
    assert(rows.groupBy(_._1).forall(_._2.map(_._4).sum <= 4L))
    // the layout is INDEPENDENT of the prefix-sum grouping — the two-level
    // sum must agree with itself at any groupSize (and with the oracle's
    // single window, which q97 gates)
    val g2 = TableIO.packSequences(docs, binTokens = 4, groupSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(g2.toSeq == rows.toSeq)
  }

  test("bucket metrics table is checkpointed and idempotent") {
    // the lineage lives in each bucket's manifest; the table reads it back
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    TableIO.commitBucket(dir, 3L, 100L, Some(TableIO.Lineage(100L, 90L, 5000L, 4000L, 1.5)))
    TableIO.commitBucket(dir, 4L, 50L, Some(TableIO.Lineage(50L, 50L, 2000L, 1500L, 0.5)))
    // re-commit of the same bucket overwrites (no duplicate lineage rows)
    TableIO.commitBucket(dir, 3L, 100L, Some(TableIO.Lineage(100L, 90L, 5000L, 4000L, 1.25)))
    // a bucket committed without lineage has no metrics row
    TableIO.commitBucket(dir, 5L, 7L)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_manifests", "bucket-3.json"))
    assert("\"rows\":([0-9]+)".r.findFirstMatchIn(manifest).map(_.group(1)).contains("100"))
    assert(TableIO.bucketLineage(dir) == Seq(
      3L -> TableIO.Lineage(100L, 90L, 5000L, 4000L, 1.25),
      4L -> TableIO.Lineage(50L, 50L, 2000L, 1500L, 0.5)))
    val mt = TableIO.metricsTable(spark, dir)
    assert(mt.count() == 2)
    val row3 = mt.filter(col("bucket") === 3L).collect().head
    assert(row3.getAs[Double]("wall_sec") == 1.25)
    assert(row3.getAs[Double]("docs_per_sec") == 80.0)
    assert(TableIO.metricsTable(spark, "/nonexistent_graft_table").isEmpty)
  }

  test("runBuckets: a crash before bucket 1 resumes to every row once, lineage in the manifests") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val pages = hourlyPages(30)
    val crash = intercept[graft.ExtractMain.InjectedFailure] {
      graft.ExtractMain.runBuckets(spark, pages, dir, 3, saltParts = 0, failAtBucket = 1)
    }
    assert(crash.bucket == 1L)
    assert(TableIO.committedBuckets(dir) == Set(0L))
    assert(TableIO.snapshots(dir) == Seq(1L -> Set(0L)))

    graft.ExtractMain.runBuckets(spark, pages, dir, 3, saltParts = 0, failAtBucket = -1)
    assert(TableIO.committedBuckets(dir) == Set(0L, 1L, 2L))
    assert(TableIO.snapshots(dir) ==
      Seq(1L -> Set(0L), 2L -> Set(0L, 1L), 3L -> Set(0L, 1L, 2L)))
    val urls = spark.read.parquet(dir).select("url").collect().map(_.getString(0)).sorted
    assert(urls.toSeq == pages.select("url").collect().map(_.getString(0)).sorted.toSeq)

    val lineage = TableIO.bucketLineage(dir)
    assert(lineage.map(_._1) == Seq(0L, 1L, 2L))
    lineage.foreach { case (b, l) =>
      val r = spark.read.parquet(s"$dir/${TableIO.BucketCol}=$b")
        .agg(ExtractJob.metricAggs.head, ExtractJob.metricAggs.tail: _*).collect().head
      assert((l.docs, l.parse_ok_docs, l.bytes_in, l.chars_out) ==
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)), s"bucket $b")
      assert(l.wall_sec > 0)
    }
    assert(lineage.map(_._2.parse_ok_docs).sum < urls.length)
  }

  test("runBuckets reads nothing back: 2 buckets take 4 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "drain") drained.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      graft.ExtractMain.runBuckets(spark, hourlyPages(8), dir, 2, saltParts = 0, failAtBucket = -1)
      // listener events arrive in order, so once this job's start is seen
      // every job runBuckets started has been counted
      sc.setJobDescription("drain")
      sc.parallelize(Seq(1)).count()
      sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(TableIO.committedBuckets(dir) == Set(0L, 1L))
      // finding the pending buckets is a shuffle (an adaptive map-stage job
      // and its result job); then each bucket is one write job
      assert(jobs.get == 4)
    } finally sc.removeSparkListener(listener)
  }

  test("resumeByUrl anti-join removes committed urls") {
    import spark.implicits._
    val pages = Seq("a", "b", "c", "d").map(u => (u, 1)).toDF("url", "v")
    val committed = Seq("b", "d").toDF("url")
    val remaining = TableIO.resumeByUrl(pages, committed).select("url")
      .collect().map(_.getString(0)).toSet
    assert(remaining == Set("a", "c"))
  }

  test("minhash LSH finds near-duplicates, not unrelated docs") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z"
    val unrelated = (100 to 160).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val cands = graft.ops.Dedup.minhashCandidates(docs, numHashes = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)))
    assert(!cands.contains((0L, 2L)) && !cands.contains((1L, 2L)))
  }

  /** Candidate pairs as memberships: each pair is a bucket of two docs. */
  private def pairBuckets(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(col("id1"), col("id2"))).as("doc_id"),
      struct(col("id1"), col("id2")).as("bucket_key"))

  test("near-dup clustering: min-label components over candidate pairs") {
    import spark.implicits._
    // components {1,2,3} (chain), {7,9}, singleton 5
    val ids = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("id1", "id2")
    val got = graft.ops.Dedup.clustersFromMemberships(ids, pairBuckets(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 9L -> 7L))
    // end-to-end: identical texts cluster together under the full pipeline
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "totally different content with other words entirely here"))
      .toDF("doc_id", "text")
    val c = graft.ops.Dedup.nearDupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(10L) == c(11L) && c(12L) != c(10L))
  }

  test("hot-bucket cap stops degenerate buckets going quadratic") {
    import spark.implicits._
    // 1,000 identical docs: every (band, bucket) holds all 1,000 ids — the
    // uncapped self-join would emit 499,500 pairs × 8 bands; the cap excludes
    // the bucket entirely (an all-match bucket carries no dedup signal)
    val docs = (0L until 1000L).map(i => (i, "same text every time"))
      .toDF("doc_id", "text")
    val capped = graft.ops.Dedup.minhashCandidates(docs, numHashes = 32,
      bands = 8, maxBucket = 100)
    assert(capped.count() == 0L)
    val hot = graft.ops.Dedup.hotBuckets(docs, numHashes = 32, bands = 8,
      maxBucket = 100).collect()
    assert(hot.length == 8 && hot.forall(_.getAs[Long]("n") == 1000L))
    // normal corpora are untouched: near-dup pair still found under the cap
    val mixed = Seq(
      (0L, (1 to 60).map(i => s"tok$i").mkString(" ")),
      (1L, (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z"),
      (2L, (100 to 160).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val cands = graft.ops.Dedup.minhashCandidates(mixed, 32, 8, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)))
  }

  test("blockedNearDup finds identical vectors via sign-block equi-join") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.sin(seed * 31 + i * 7).toFloat)
    val rows = (0 until 10).flatMap { k =>
      val v = vec(k)
      Seq((2L * k, v), (2L * k + 1, v.updated(0, v.head * 1.001f)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = graft.ops.Similarity.blockedNearDup(emb, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted twins share every sign bit (same block) and cosine ~1
    (0 until 10).foreach { k =>
      assert(pairs.contains((2L * k, 2L * k + 1)), s"twin pair $k missing")
    }
    // cap excludes over-full blocks entirely
    val dup = (0L until 50L).map(i => (i, vec(7))).toDF("vec_id", "embedding")
    assert(graft.ops.Similarity.blockedNearDup(dup, 0.5, maxBucket = 10).count() == 0L)
  }

  test("JSONL export sink round-trips and partitions") {
    import spark.implicits._
    val df = Seq((1L, "hello", "en"), (2L, "welt", "de"), (3L, "hi", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("jsonl_sink").toString
    TableIO.writeJsonl(df, dir, partitionCols = Seq("lang"))
    val back = spark.read.json(dir)
    assert(back.count() == 3)
    assert(back.filter(org.apache.spark.sql.functions.col("lang") === "en").count() == 2)
    // gzipped line-delimited parts under lang=… directories
    val parts = new java.io.File(dir, "lang=en").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(parts.nonEmpty)
  }

  test("byte-histogram features and resize stub have exact, stable shapes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "aaab".getBytes("UTF-8")),      // 'a'=97 bin 24, 'b'=98 bin 24 (width 4)
      (2L, Array.emptyByteArray),
      (3L, Array[Byte](-1, -1, 0))          // 0xFF bin 63, 0x00 bin 0
    ).toDF("doc_id", "payload")
    val feats = graft.ops.Multimodal.byteHistogramFeatures(df, bins = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(feats(1L)(24) == 1.0f && feats(1L).sum == 1.0f) // 97/4 == 98/4 == 24
    assert(feats(2L).sum == 0.0f)
    assert(math.abs(feats(3L)(63) - 2f / 3f) < 1e-6 &&
      math.abs(feats(3L)(0) - 1f / 3f) < 1e-6)
    val thumbs = graft.ops.Multimodal.resizeStub(df, outW = 4, outH = 4)
      .collect().map(t => t.doc_id -> t).toMap
    assert(thumbs.values.forall(t => t.width == 4 && t.height == 4 &&
      t.pixels.length == 16))
    assert(thumbs(2L).pixels.forall(_ == 0)) // empty payload → zero pixels
    // deterministic: same payload → same thumb
    val again = graft.ops.Multimodal.resizeStub(df, 4, 4)
      .collect().map(t => t.doc_id -> t.pixels.toSeq).toMap
    assert(again(1L) == thumbs(1L).pixels.toSeq)
  }

  test("simhashNearDup chunk banding is pigeonhole-exact vs brute force") {
    import spark.implicits._
    // 40 docs with overlapping token windows → a spread of hamming distances
    val docs = (0L until 40L)
      .map(i => (i, (i to i + 50).map(j => s"tok${j % 60}").mkString(" ")))
      .toDF("doc_id", "text")
    val banded = graft.ops.Dedup.simhashNearDup(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same simhashes
    val sh = graft.ops.Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i1, h1) <- sh; (i2, h2) <- sh if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
    } yield (i1, i2, d)).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty) // the fixture actually exercises the path
  }

  test("pure-Column cosine (zip_with/aggregate) tracks the float32 UDF") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.sin(seed * 13 + i * 5).toFloat)
    val rows = (0 until 8).map(k => (k.toLong, vec(k), vec(k + 3)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      graft.ops.Similarity.cosineCol(col("a"), col("b")).as("c"),
      graft.ops.Similarity.cosineUdf(col("a"), col("b")).as("e"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-5,
        s"id=${r.getLong(0)} col=${r.getDouble(1)} udf=${r.getDouble(2)}")
    }
    // zero-norm guard matches cosineF's 0.0 convention
    val z = Seq((0L, Seq.fill(4)(0f), vec(1).take(4))).toDF("id", "a", "b")
      .select(graft.ops.Similarity.cosineCol(col("a"), col("b")).as("c"))
      .collect().head.getDouble(0)
    assert(z == 0.0)
  }

  test("relational descendant combinator matches kernel querySelectorAll") {
    import spark.implicits._
    val html = "<div><ul><li class=\"item\">a</li><span><li class=\"item\">b</li>" +
      "</span></ul><li class=\"item\">outside</li><ul><p class=\"item\">c</p></ul></div>"
    val pages = Seq((1L, "u", html.getBytes("UTF-8"))).toDF("doc_id", "url", "html")
    val nodes = ExtractJob.explodeNodes(pages).toDF()
    val rel = ExtractJob.descendants(nodes,
      org.apache.spark.sql.functions.col("tag") === "ul",
      org.apache.spark.sql.functions.array_contains(
        org.apache.spark.sql.functions.col("classes"), "item")).count()
    val kernel = graft.kernel.HtmlParser.parse(html)
      .querySelectorAll("ul [class~=\"item\"]").length
    assert(rel == kernel.toLong && rel == 3L) // li a, li b (nested), p c — not "outside"
  }

  test("explodeNodes ancestor cap bounds adversarial depth") {
    import spark.implicits._
    // adversarial nesting (closed, so the repair pass doesn't flatten it to
    // root siblings); uncapped, encoded rows would be O(n²)
    val deep = "<div>" * 5000 + "</div>" * 5000
    val pages = Seq((1L, "u", deep.getBytes("UTF-8"))).toDF("doc_id", "url", "html")
    val rows = ExtractJob.explodeNodes(pages, maxAncestors = 64).toDF()
      .selectExpr("max(size(ancestors)) as m", "count(*) as n",
        "max(parent_idx) as p").collect().head
    assert(rows.getInt(0) == 64 && rows.getLong(1) == 5000L)
    assert(rows.getInt(2) == 4998) // parent_idx itself is never truncated
  }

  test("ngram jaccard on explicit pairs") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e"), (1L, "a b c d x")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L)).toDF("id1", "id2")
    val j = graft.ops.Dedup.ngramJaccard(docs, pairs, n = 3).collect().head
    // shingles(0): {a b c, b c d, c d e}; shingles(1): {a b c, b c d, c d x}
    assert(j.getAs[Long]("inter") == 2L)
    assert(math.abs(j.getAs[Double]("jaccard") - 0.5) < 1e-9)
  }

  test("simhash hamming distance separates near-dups from unrelated") {
    import spark.implicits._
    val base = (1 to 64).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => s"tok$i").mkString(" ") + " q w e r"
    val far = (200 to 264).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
    val sh = graft.ops.Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("LSH ANN finds planted near-identical neighbors") {
    import spark.implicits._
    // deterministic clustered vectors: pairs (2k, 2k+1) nearly identical
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.sin(seed * 31 + i * 7).toFloat)
    val rows = (0 until 20).flatMap { k =>
      val v = vec(k)
      Seq((2L * k, v), (2L * k + 1, v.updated(0, v.head + 0.001f)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val res = graft.ops.Similarity.lshTopK(emb, nQueries = 4, k = 1, nPlanes = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // each query 0..3's nearest neighbor is its planted twin
    (0 until 4).foreach { q =>
      assert(res(q.toLong) == (q.toLong ^ 1L), s"query $q should find its twin")
    }
  }

  test("brute-force topk agrees with LSH on planted twins") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.cos(seed * 17 + i * 3).toFloat)
    val rows = (0 until 10).flatMap { k =>
      val v = vec(k)
      Seq((2L * k, v), (2L * k + 1, v.updated(1, v(1) + 0.001f)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val brute = graft.ops.Similarity.bruteForceTopK(emb, nQueries = 4, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0 until 4).foreach(q => assert(brute(q.toLong) == (q.toLong ^ 1L)))
  }

  test("multimodal decode stub emits typed metadata") {
    import spark.implicits._
    val df = Seq((1L, "hello".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val meta = graft.ops.Multimodal.decodeStub(df).collect().head
    assert(meta.getAs[Long]("byte_len") == 5L)
    assert(meta.getAs[String]("fp") == "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(meta.getAs[Int]("fake_width") == 6)
  }

  test("pure-SQL surface: registered kernel functions work from spark.sql") {
    graft.functions.HtmlFunctions.register(spark)
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT html_valid('<p>x</p>') AS v,
        |       html_text('<span>o<p>a</p>b</span>') AS t,
        |       css_count('<ul><li class="a">1</li><li class="a">2</li></ul>', 'li.a') AS n,
        |       css_first_attr('<a href="https://x">L</a>', 'a', 'href') AS h,
        |       html_unescape_native('&lt;&ampx&copyright;') AS u
        |""".stripMargin).collect().head
    assert(r.getBoolean(0))
    assert(r.getString(1) == "o\na\nb")
    assert(r.getInt(2) == 2)
    assert(r.getString(3) == "https://x")
    assert(r.getString(4) == "<&x©right;")
  }

  test("synth pages are deterministic and correctly shaped") {
    val p1 = Synth.pages(spark, "/root/testdata/sf0.001")
    val p2 = Synth.pages(spark, "/root/testdata/sf0.001")
    assert(p1.schema.fieldNames.toSeq ==
      Seq("url", "warc_ts", "html", "text", "lang", "doc_id"))
    val h1 = p1.agg(sum(crc32(col("html")))).collect().head.getLong(0)
    val h2 = p2.agg(sum(crc32(col("html")))).collect().head.getLong(0)
    assert(h1 == h2)
  }

  test("dedupCorpus materializes one canonical survivor per cluster") {
    import spark.implicits._
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta", "en"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta", "en"),
      (13L, "alpha beta gamma delta epsilon zeta eta theta", "de"),
      (12L, "totally different content with other words entirely here", "fr"))
      .toDF("doc_id", "text", "lang")
    val clusters = graft.ops.Dedup.nearDupClusters(docs)
    val kept = graft.ops.Dedup.dedupCorpus(docs, clusters).collect()
    // identical texts collapse to the min doc_id; the unique doc survives
    assert(kept.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 12L))
    val sz = kept.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_size")).toMap
    assert(sz(10L) == 3L && sz(12L) == 1L)
    // survivors keep their corpus columns intact
    assert(kept.find(_.getAs[Long]("doc_id") == 10L).get
      .getAs[String]("lang") == "en")
    val stats = graft.ops.Dedup.dedupStats(clusters).collect().head
    assert(stats.getAs[Long]("n_docs") == 4L)
    assert(stats.getAs[Long]("n_kept") == 2L)
    assert(stats.getAs[Long]("n_dropped") == 2L)
    assert(stats.getAs[Long]("n_non_canonical") == 2L)
  }

  test("clustering rejects duplicate doc_ids instead of corrupting components") {
    import spark.implicits._
    val dupIds = Seq(1L, 1L, 2L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.clustersFromMemberships(dupIds, pairBuckets(pairs))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.clustersFromMemberships(dupIds,
        Seq((1L, "b")).toDF("doc_id", "bucket_key"))
    }
  }

  test("simhash cap split preserves exact recall with the cap forced low") {
    import spark.implicits._
    // 12 identical docs — one degenerate bucket under EVERY chunking, so
    // their 66 hamming-0 pairs can only survive the cap via the second-level
    // split — plus 40 overlapping-window docs for a spread of distances
    val hot = (100L until 112L).map(i => (i, "same text every time"))
    val varied = (0L until 40L)
      .map(i => (i, (i to i + 50).map(j => s"tok${j % 60}").mkString(" ")))
    val docs = (hot ++ varied).toDF("doc_id", "text")
    val banded = graft.ops.Dedup.simhashNearDup(docs, maxHamming = 3,
      maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sh = graft.ops.Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i1, h1) <- sh; (i2, h2) <- sh if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
    } yield (i1, i2, d)).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.size >= 66) // the hot clique's pairs are all present
  }

  test("lshTopK recall vs the exact scan (independent quality check)") {
    import spark.implicits._
    // generic (non-planted) vectors: the q18 fixture is a regression pin of
    // the same construction, so THIS is the independent quality evidence —
    // banded top-k must recover most of the exact top-k
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.sin(seed * 7.0 + i * 11.0).toFloat)
    val emb = (0 until 200).map(k => (k.toLong, vec(k))).toDF("vec_id", "embedding")
    val exact = graft.ops.Similarity.bruteForceTopK(emb, nQueries = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = graft.ops.Similarity.lshTopK(emb, nQueries = 8, k = 3, nPlanes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.5, f"LSH recall $recall%.2f below floor vs exact top-k")
  }

  test("quality gate: keeps real prose, drops short and repetitive docs; stats reconcile") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then runs far " +
      "away through green fields deep woods wide rivers small towns big cities"
    val short = "too short"
    val repetitive = ("spam " * 40).trim // long enough, but uniq ratio 1/40
    val df = Seq((1L, good), (2L, short), (3L, repetitive)).toDF("doc_id", "text")
    val gated = graft.ops.TextAnalysis.qualityGate(df)
    val pass = gated.filter(org.apache.spark.sql.functions.col("q_pass"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pass == Set(1L))
    val st = graft.ops.TextAnalysis.qualityStats(gated).head
    assert(st.getAs[Long]("n_docs") == 3L)
    assert(st.getAs[Long]("n_kept") == 1L)
    assert(st.getAs[Long]("n_dropped") == 2L)
    assert(st.getAs[Long]("chars_dropped") ==
      short.length.toLong + repetitive.length.toLong)
    val filtered = graft.ops.TextAnalysis.qualityFilter(df)
    assert(filtered.count() == 1L)
    assert(!filtered.columns.contains("q_pass")) // materialized, not flagged
  }

  test("url canonicalization: case, default ports, empty path, fragment") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://Example.COM", "http://example.com/"),
      ("http://example.com:80/a", "http://example.com/a"),
      ("https://example.com:443/a", "https://example.com/a"),
      ("https://example.com:80/a", "https://example.com:80/a"), // NOT default for https
      ("http://example.com:8080/a?q=1#frag", "http://example.com:8080/a?q=1"),
      ("http://example.com?x=1", "http://example.com/?x=1"),
      ("http://example.com/A/B", "http://example.com/A/B")) // path case kept
    val df = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "url")
      .withColumn("c", graft.ops.UrlOps.canonicalizeUrl(org.apache.spark.sql.functions.col("url")))
    val got = df.orderBy("i").collect().map(_.getString(2)).toSeq
    assert(got == cases.map(_._2))
  }

  test("url canonicalization phase 2: unreserved percent-decode + dot segments") {
    import spark.implicits._
    val cases = Seq(
      // §6.2.2.2: unreserved escapes decode; reserved stay, hex uppercased
      ("http://h.example/%7Euser", "http://h.example/~user"),
      ("http://h.example/%41%42c%2fd", "http://h.example/ABc%2Fd"),
      ("http://h.example/a%2Fb?t=%7e1", "http://h.example/a%2Fb?t=~1"),
      ("http://h.example/100%25ok", "http://h.example/100%25ok"), // %25 = '%': reserved-class, kept
      ("http://h.example/50%-off", "http://h.example/50%-off"), // malformed escape verbatim
      // §6.2.2.3: dot segments
      ("http://h.example/a/./b", "http://h.example/a/b"),
      ("http://h.example/a/../b", "http://h.example/b"),
      ("http://h.example/a/b/../../c", "http://h.example/c"),
      ("http://h.example/../a", "http://h.example/a"), // over-pop at root
      ("http://h.example/a/b/..", "http://h.example/a/"), // trailing .. keeps slash
      ("http://h.example/a/.", "http://h.example/a/"),
      ("http://h.example/a//b", "http://h.example/a//b"), // empty segs preserved
      ("http://h.example/a//../b", "http://h.example/a/b"), // .. pops the empty seg
      // %2E decodes to '.', THEN participates in dot removal (RFC ordering)
      ("http://h.example/a/%2E%2E/b", "http://h.example/b"))
    val df = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "url")
      .withColumn("c", graft.ops.UrlOps.canonicalizeUrl(org.apache.spark.sql.functions.col("url")))
    val got = df.orderBy("i").collect().map(_.getString(2)).toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in)")
    }
  }

  test("url resolution follows RFC 3986 §5.4 (fragments dropped)") {
    import spark.implicits._
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      ("g", "http://a/b/c/g"),
      ("./g", "http://a/b/c/g"),
      ("g/", "http://a/b/c/g/"),
      ("/g", "http://a/g"),
      ("//g", "http://g"),
      ("?y", "http://a/b/c/d;p?y"),
      ("g?y", "http://a/b/c/g?y"),
      ("#s", "http://a/b/c/d;p?q"), // fragment-only → base, fragment dropped
      ("", "http://a/b/c/d;p?q"),
      ("..", "http://a/b/"),
      ("../g", "http://a/b/g"),
      ("../../g", "http://a/g"),
      ("../../../g", "http://a/g"), // over-pop clamps at root
      ("g#s/x", "http://a/b/c/g"), // fragment dropped on relative too
      ("https://x.example/q", "https://x.example/q"), // absolute passthrough
      // fragment dropped on the absolute and protocol-relative branches
      // too — a frontier key must never split on fragments
      ("https://x.example/q#frag", "https://x.example/q"),
      ("//g/p#s", "http://g/p"))
    val df = cases.map(_._1).zipWithIndex.map { case (r, i) => (i, base, r) }
      .toDF("i", "base", "ref")
      .withColumn("res", graft.ops.UrlOps.resolveUrl(
        org.apache.spark.sql.functions.col("base"),
        org.apache.spark.sql.functions.col("ref")))
    val got = df.orderBy("i").collect().map(_.getString(3)).toSeq
    got.zip(cases).foreach { case (g, (ref, want)) =>
      assert(g == want, s"resolve($base, $ref)")
    }
  }

  // Expected values pinned from the Column-fold implementation these
  // functions replaced (run, not derived): nulls, empty and fragment-only
  // refs, absolute and protocol-relative refs, %-runs, non-ASCII, `..`
  // past the root, ports and upper case.
  private val resolveTable = Seq[(String, String, String)](
      (null, "g", null),
      ("http://a/b/c/d;p?q", null, null),
      (null, "https://x.example/p#f", "https://x.example/p"),
      (null, null, null),
      ("http://a/b/c/d;p?q", "", "http://a/b/c/d;p?q"),
      ("http://a/b/c/d;p?q", "#frag", "http://a/b/c/d;p?q"),
      ("http://a/b/c/d;p?q", "HTTPS://X.Example:443/A/../b#f", "HTTPS://X.Example:443/A/../b"),
      ("HTTPS://a.example/p", "//cdn.example/c/x#f", "https://cdn.example/c/x"),
      ("http://a/b/c/d", "g%2e%2E/%7e?q=%41%", "http://a/b/c/g%2e%2E/%7e?q=%41%"),
      ("http://a/b/", "../../../../g", "http://a/g"),
      ("http://a/b/c/", "./../x/./..", "http://a/b/"),
      ("http://a:8080/b/c", "d", "http://a:8080/b/d"),
      ("http://a/b/c", "\u65e5\u672c/\u00e9?\u00fc#x", "http://a/b/\u65e5\u672c/\u00e9?\u00fc"),
      ("not a url", "g", "/g"),
      ("not a url", "//h/p", "://h/p"),
      ("http://a/b/c", "mailto:x@y", "mailto:x@y"),
      ("http://A.Example", "?y", "http://A.Example/?y"),
      ("http://a/b/c?q#f", "#", "http://a/b/c?q")
  )
  private val documentBaseTable = Seq[(String, String, String)](
      ("http://h/p.html", null, "http://h/p.html"),
      ("http://h/p.html", "", "http://h/p.html"),
      (null, "rel/", null),
      (null, null, null),
      (null, "https://b.example/x/", "https://b.example/x/"),
      ("http://h/dir/p.html", "rel/", "http://h/dir/rel/"),
      ("http://h/dir/p.html", "https://B.example/x/", "https://B.example/x/"),
      ("http://h/dir/p.html", "#top", "http://h/dir/p.html"),
      ("http://h/dir/p.html", "../../../up/", "http://h/up/"),
      ("http://h/dir/p.html", "//cdn.example/base/", "http://cdn.example/base/")
  )
  private val canonicalizeTable = Seq[(String, String)](
      (null, null),
      ("", ":///"),
      ("#frag", ":///"),
      ("HTTP://Example.COM", "http://example.com/"),
      ("//host/p", ":///"),
      ("http://h.example/%7e%41%2f%zz%", "http://h.example/~A%2F%zz%"),
      ("http://h.example/a/%2E%2E/../../../b", "http://h.example/b"),
      ("HTTPS://H.example:443/P?Q=%7E#F", "https://h.example/P?Q=~"),
      ("http://h.example:8080", "http://h.example:8080/"),
      ("http://h.example:80/", "http://h.example/"),
      ("https://h.example:80/", "https://h.example:80/"),
      ("http://\u00dcBER.Example/\u00e9%C3%A9", "http://\u00fcber.example/\u00e9%C3%A9"),
      ("http://user:Pw@Host.Example:81/x", "http://user/x"),
      ("ftp://H.Example:21/a/./b/.", "ftp://h.example:21/a/b/"),
      ("relative/path?x", ":///?x"),
      ("http://h.example/a//../b/%2e/", "http://h.example/a/b/"),
      ("HTTP://\u0130STANBUL.example/", "http://i\u0307stanbul.example/"),
      ("http://h.example/?a=%7e%7E%2F%2f", "http://h.example/?a=~~%2F%2F")
  )

  test("url table: resolveUrl, documentBase, canonicalizeUrl as Columns and as Strings") {
    import spark.implicits._
    import graft.ops.UrlOps
    val r = resolveTable.map(t => (t._1, t._2)).toDF("b", "r")
      .select(UrlOps.resolveUrl(col("b"), col("r"))).as[String].collect().toSeq
    val d = documentBaseTable.map(t => (t._1, t._2)).toDF("p", "h")
      .select(UrlOps.documentBase(col("p"), col("h"))).as[String].collect().toSeq
    val c = canonicalizeTable.map(_._1).toDF("u")
      .select(UrlOps.canonicalizeUrl(col("u"))).as[String].collect().toSeq
    resolveTable.zip(r).foreach { case ((b, f, want), got) =>
      assert(got == want, s"resolveUrl($b, $f) as Column")
      assert(UrlOps.resolveUrl(b, f) == want, s"resolveUrl($b, $f)")
    }
    documentBaseTable.zip(d).foreach { case ((pg, h, want), got) =>
      assert(got == want, s"documentBase($pg, $h) as Column")
      assert(UrlOps.documentBase(pg, h) == want, s"documentBase($pg, $h)")
    }
    canonicalizeTable.zip(c).foreach { case ((u, want), got) =>
      assert(got == want, s"canonicalizeUrl($u) as Column")
      assert(UrlOps.canonicalizeUrl(u) == want, s"canonicalizeUrl($u)")
    }
  }

  test("PlanSweep counts the ScalaUDF nodes of a plan, nested and filtered ones too") {
    import graft.ops.UrlOps
    val urls = spark.range(4).select(concat(lit("HTTP://H.example/a/../p"), col("id")).as("u"))
    def udfs(df: DataFrame) = graft.PlanSweep.scalaUdfs(df.queryExecution.executedPlan)
    assert(udfs(urls.select(UrlOps.urlHost(col("u")))) == 0)
    assert(udfs(urls.select(UrlOps.canonicalizeUrl(col("u")))) == 1)
    assert(udfs(urls.select(UrlOps.canonicalizeUrl(UrlOps.resolveUrl(col("u"), lit("q"))))) == 2)
    // a filter on the projected column is pushed below the projection, so
    // the plan evaluates the udf in both
    val canon = urls.select(UrlOps.canonicalizeUrl(col("u")).as("c"))
    assert(udfs(canon.filter(col("c").endsWith("p1"))) == 2)
  }

  test("url composition nested in one select equals the staged result") {
    import spark.implicits._
    import graft.ops.UrlOps
    val rows = for {
      (pg, h, _) <- documentBaseTable
      (_, ref, _) <- resolveTable
    } yield (pg, h, ref)
    val df = rows.toDF("page", "bhref", "ref")
    val nested = df.select(UrlOps.canonicalizeUrl(UrlOps.resolveUrl(
      UrlOps.documentBase(col("page"), col("bhref")), col("ref"))))
      .as[String].collect().toSeq
    val base = df.select(UrlOps.documentBase(col("page"), col("bhref")).as("eb"), col("ref"))
      .as[(String, String)].collect().toSeq.toDF("eb", "ref")
    val resolved = base.select(UrlOps.resolveUrl(col("eb"), col("ref")))
      .as[String].collect().toSeq.toDF("rs")
    val staged = resolved.select(UrlOps.canonicalizeUrl(col("rs"))).as[String].collect().toSeq
    assert(nested == staged)
    assert(nested == rows.map { case (pg, h, ref) =>
      UrlOps.canonicalizeUrl(UrlOps.resolveUrl(UrlOps.documentBase(pg, h), ref)) })
  }

  test("decontamination flags docs sharing a benchmark passage, not clean docs") {
    import spark.implicits._
    val passage = "the exact benchmark question text appears verbatim in this document"
    val train = Seq(
      (1L, "some unrelated training prose about rivers and mountains far away"),
      (2L, "intro words " + passage + " outro words")).toDF("doc_id", "text")
    val bench = Seq((100L, passage)).toDF("doc_id", "text")
    val hits = graft.ops.TextAnalysis.contamination(train, bench).collect()
    assert(hits.map(_.getLong(0)).toSet == Set(2L))
    assert(hits.head.getAs[Long]("n_shared_fp") >= 1L)
    assert(hits.head.getAs[Long]("n_bench_docs") == 1L)
  }

  test("vocabulary: thresholded token counts, whitespace excluded") {
    import spark.implicits._
    val df = Seq((1L, "ab ab ab cd"), (2L, "ab cd, cd!")).toDF("doc_id", "text")
    val v = graft.ops.TextAnalysis.vocabulary(df, minCount = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("ab" -> 4L, "cd" -> 3L)) // ',' '!' and spaces below/excluded
  }

  test("IVF ANN finds planted near-identical neighbors") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.sin(seed * 31 + i * 7).toFloat)
    val rows = (0 until 20).flatMap { k =>
      val v = vec(k)
      Seq((2L * k, v), (2L * k + 1, v.updated(0, v.head + 0.001f)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val res = graft.ops.Similarity.ivfTopK(emb, nQueries = 4, k = 1,
      nCentroids = 8, nProbes = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // a twin is cosine ~1 to its pair, so they share a nearest centroid and
    // land in the same list — probing the top list always recovers the twin
    (0 until 4).foreach { q =>
      assert(res(q.toLong) == (q.toLong ^ 1L), s"query $q should find its twin")
    }
  }

  test("ivfTopK recall vs the exact scan (independent quality check)") {
    import spark.implicits._
    // generic vectors — the q43 oracle hash-checks the construction; this
    // pins that the construction is a GOOD ANN (recall floor vs exact)
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => math.sin(seed * 7.0 + i * 11.0).toFloat)
    val emb = (0 until 200).map(k => (k.toLong, vec(k))).toDF("vec_id", "embedding")
    val exact = graft.ops.Similarity.bruteForceTopK(emb, nQueries = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.ops.Similarity.ivfTopK(emb, nQueries = 8, k = 3,
      nCentroids = 16, nProbes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF recall $recall%.2f below floor vs exact top-k")
  }

  test("ivfTopK two-level coarse quantizer equals flat on clustered data") {
    import spark.implicits._
    // 16 centroids = 4 coarse directions x 4 fine offsets: group reps
    // (centroids 0,4,8,12) each carry a DISTINCT coarse direction, so the
    // level-1 rep scan always probes the true centroid's group and the
    // two-level O(sqrt(k)) assignment reproduces the flat O(k) scan
    val dims = 8
    def centroid(i: Int): Seq[Float] = {
      val v = Array.fill(dims)(0f)
      v(i / 4) = 1f
      v(4 + i % 4) = 0.3f
      v.toSeq
    }
    val rows = (0 until 16).map(i => (i.toLong, centroid(i))) ++
      (16 until 96).map { j =>
        val c = centroid(j % 16).toArray
        c(4 + j % 4) = c(4 + j % 4) + 0.02f * ((j / 16) % 3 - 1)
        (j.toLong, c.toSeq)
      }
    val emb = rows.toDF("vec_id", "embedding")
    def run(h: Boolean) = graft.ops.Similarity.ivfTopK(emb, nQueries = 8,
      k = 3, nCentroids = 16, nProbes = 4, hierarchical = h)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(run(h = false) == run(h = true))
  }

  test("ivfTopK probes fraction of lists: candidate set smaller than corpus") {
    import spark.implicits._
    def vec(seed: Int): Seq[Float] =
      (0 until 32).map(i => math.cos(seed * 13.0 + i * 5.0).toFloat)
    val emb = (0 until 300).map(k => (k.toLong, vec(k))).toDF("vec_id", "embedding")
    // nProbes=1 of 16 lists: each query scans ~1/16 of the corpus — verify
    // the result set exists and every rank is within k (structure sanity)
    val res = graft.ops.Similarity.ivfTopK(emb, nQueries = 4, k = 3,
      nCentroids = 16, nProbes = 1).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getInt(1) <= 3))
  }
}
