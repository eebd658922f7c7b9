package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Iceberg-style table seam (SURVEY.md §7.6). No Iceberg runtime jar exists
  * in this sandbox, so the rule's Iceberg features are emulated: a
  * bucket-partitioned parquet layout plus a `_manifests/` JSON commit log
  * giving snapshot-style atomic bucket commits, resumability, and lineage.
  * On a real cluster the read/write call sites swap to `format("iceberg")`.
  */
object TableIO {

  val BucketCol = "warc_bucket"

  /** warc_ts → bucket id (hour-of-epoch modulo nBuckets — deterministic,
    * partition-pruning friendly).
    */
  def withBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn(BucketCol,
      pmod((unix_timestamp(col("warc_ts")) / 3600).cast("long"), lit(nBuckets)))

  private def manifestDir(table: String): Path = Paths.get(table, "_manifests")

  /** List a directory, closing the underlying stream (Files.list leaks a
    * directory fd otherwise).
    */
  private def listDir(dir: Path): Seq[Path] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala.toSeq
    finally stream.close()
  }

  /** Buckets already committed (the resume set). */
  def committedBuckets(table: String): Set[Long] = {
    val dir = manifestDir(table)
    if (!Files.isDirectory(dir)) Set.empty
    else
      listDir(dir)
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json"))
        .map(_.stripSuffix(".json").stripPrefix("bucket-").toLong)
        .toSet
  }

  /** Training-data export sink: gzipped JSONL (one JSON object per line —
    * the standard LLM-corpus interchange format), partitioned like the
    * parquet layout. Spark's native JSON writer keeps this a map-only
    * distributed write (no collect, no driver formatting); each task emits
    * one .json.gz part.
    */
  def writeJsonl(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").option("compression", "gzip")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .json(path)
  }

  /** Write a bucket's data (no commit yet — the manifest is the commit
    * point and must come LAST, after any lineage/metrics writes).
    */
  def writeBucketData(df: DataFrame, table: String, bucket: Long): Unit =
    df.write.mode("overwrite").parquet(s"$table/$BucketCol=$bucket")

  /** Atomically commit a bucket by dropping its manifest. */
  def commitManifest(table: String, bucket: Long, rows: Long): Unit = {
    val dir = manifestDir(table)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".bucket-$bucket.json.tmp")
    val fin = dir.resolve(s"bucket-$bucket.json")
    Files.writeString(tmp, s"""{"bucket":$bucket,"rows":$rows,"schema":"parsed_doc_v1"}""")
    Files.move(tmp, fin,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Idempotent bucket write + commit. A re-run after a crash rewrites any
    * uncommitted bucket (overwrite) and skips committed ones — no duplicate
    * output. The manifest row count comes from one read of the written
    * parquet (footer metadata), not a recompute of `df`.
    */
  def writeBucket(df: DataFrame, table: String, bucket: Long): Unit = {
    writeBucketData(df, table, bucket)
    val rows = df.sparkSession.read.parquet(s"$table/$BucketCol=$bucket").count()
    commitManifest(table, bucket, rows)
    appendSnapshot(table, bucket)
  }

  // ---- snapshot log (Iceberg-style time travel over the commit log) ----

  private def snapshotDir(table: String): Path = Paths.get(table, "_snapshots")

  /** Append an entry to the `_snapshots/` log: every bucket commit records
    * the FULL committed-bucket set at that moment, so any historical table
    * state is reconstructible ([[readSnapshot]]) and the north rule's
    * "resumable from the last committed snapshot" is literal — the
    * same append-only-metadata design Iceberg uses (snapshot list +
    * manifest files), emulated on a filesystem because no Iceberg runtime
    * jar exists in this sandbox (SURVEY.md §7.6). Commits are sequenced by
    * the single writing driver (one job owns a table run; Iceberg's
    * optimistic-retry protocol is out of scope here).
    */
  def appendSnapshot(table: String, bucket: Long): Long = {
    val dir = snapshotDir(table)
    Files.createDirectories(dir)
    val id = snapshots(table).lastOption.map(_._1).getOrElse(0L) + 1L
    val buckets = committedBuckets(table).toSeq.sorted
    val tmp = dir.resolve(s".snap-$id.json.tmp")
    val fin = dir.resolve(f"snap-$id%06d.json")
    Files.writeString(tmp,
      s"""{"snapshot_id":$id,"committed_bucket":$bucket,""" +
        s""""buckets":[${buckets.mkString(",")}]}""")
    Files.move(tmp, fin,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    id
  }

  /** Catch-up snapshot (crash-window repair): a crash BETWEEN
    * [[commitManifest]] and [[appendSnapshot]] leaves a committed bucket
    * with no snapshot entry; if it was the final bucket, the latest
    * snapshot would permanently under-report the table vs the manifest
    * view. Called on job start: if the manifest bucket set differs from
    * the latest snapshot's, append one snapshot recording the true
    * committed set. Returns the appended snapshot id, if any was needed.
    */
  def reconcileSnapshots(table: String): Option[Long] = {
    val committed = committedBuckets(table)
    val latest = snapshots(table).lastOption.map(_._2).getOrElse(Set.empty[Long])
    if (committed == latest) None
    else {
      val trigger = (committed -- latest).toSeq.sorted.headOption.getOrElse(-1L)
      Some(appendSnapshot(table, trigger))
    }
  }

  /** The snapshot log in commit order: (snapshot_id, committed bucket set). */
  def snapshots(table: String): Seq[(Long, Set[Long])] = {
    val dir = snapshotDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else
      listDir(dir)
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
        .map { n =>
          val body = Files.readString(dir.resolve(n))
          val id = n.stripPrefix("snap-").stripSuffix(".json").toLong
          val buckets = "\"buckets\":\\[([0-9,]*)\\]".r
            .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
          val set =
            if (buckets.isEmpty) Set.empty[Long]
            else buckets.split(",").map(_.toLong).toSet
          (id, set)
        }
        .sortBy(_._1)
  }

  /** TIME-TRAVEL read: the table as of `snapshotId` (latest when omitted) —
    * only the buckets committed at that snapshot are scanned, so reading an
    * old state costs exactly that state's data, never a full-table scan
    * plus filter. Returns an empty frame for an empty/unknown snapshot.
    */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, table: String,
      snapshotId: Long = Long.MaxValue): DataFrame = {
    val log = snapshots(table)
    val state = log.filter(_._1 <= snapshotId).lastOption.map(_._2)
      .getOrElse(Set.empty[Long])
    if (state.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.option("basePath", table)
        .parquet(state.toSeq.sorted.map(b => s"$table/$BucketCol=$b"): _*)
  }

  /** Filter the input to not-yet-committed buckets (partition-level resume)
    * — at 10^12 docs this prunes entire partitions before any scan work.
    */
  def pendingOnly(pages: DataFrame, table: String, nBuckets: Int): DataFrame = {
    val committed = committedBuckets(table)
    val bucketed = withBucket(pages, nBuckets)
    if (committed.isEmpty) bucketed
    else bucketed.filter(!col(BucketCol).isin(committed.toSeq: _*))
  }

  /** Deterministic TRAINING-SHARD layout — the corpus pipeline's last
    * operator before tokenization: training data must be WELL-SHUFFLED
    * (curriculum artifacts otherwise leak document order into training),
    * and at 10^12 docs the shuffle must be deterministic and resumable —
    * no RNG state. Sort key = md5(doc_id:salt): any re-run, retry, or
    * cluster size reproduces the identical shard contents and intra-shard
    * order. Shard id = the key's first 48 bits mod nShards (hash-uniform
    * up to ~10^6 shards); position is a per-shard window over the key —
    * one shuffle on the shard id, each shard sorted independently
    * (nothing global).
    *
    * SCALE CONTRACT: the per-shard window runs ONE TASK PER SHARD, so
    * `nShards` MUST scale with the corpus — size it so a shard holds
    * roughly a training file's worth of rows (the real-world shape is
    * 10^3–10^5 shards; [[trainShardsBySize]] computes it from a target).
    * A small constant nShards over a huge corpus funnels the corpus
    * through nShards tasks — correct, but serial. Bounds enforced:
    * 1 <= nShards <= 2^20.
    */
  def trainShards(docs: DataFrame, nShards: Int,
      salt: String = "graft"): DataFrame = {
    require(nShards >= 1 && nShards <= (1 << 20),
      s"nShards must be in [1, 2^20], got $nShards")
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(col("doc_id").cast("string"), lit(":" + salt)))
    docs
      .withColumn("__shuffle_key", key)
      .withColumn("shard",
        pmod(conv(substring(col("__shuffle_key"), 1, 12), 16, 10).cast("long"),
          lit(nShards)))
      .withColumn("pos_in_shard",
        row_number().over(
          Window.partitionBy("shard").orderBy("__shuffle_key")) - 1)
      .drop("__shuffle_key")
  }

  /** [[trainShards]] sized from a per-shard row target instead of a shard
    * count — the honest way to pick nShards at any scale (one count()
    * action, then the same deterministic layout).
    */
  def trainShardsBySize(docs: DataFrame, targetShardRows: Long,
      salt: String = "graft"): DataFrame = {
    require(targetShardRows >= 1, s"targetShardRows must be >= 1")
    val n = docs.count()
    val nShards = math.min((1L << 20).toLong,
      math.max(1L, (n + targetShardRows - 1) / targetShardRows)).toInt
    trainShards(docs, nShards, salt)
  }

  /** SEQUENCE PACKING — the GPT-style packed-dataset layout: documents
    * concatenate in doc_id order into one global token stream that is cut
    * every `binTokens` tokens; documents CROSS cut boundaries, so the
    * output is one row per (document × bin it touches) with the document's
    * offset and token count inside that bin — exactly the index a packed
    * pretraining loader consumes. Token counts are the nonempty
    * space-split words (the chunkDocs/q10 convention).
    *
    * The global EXCLUSIVE PREFIX SUM is computed scale-correctly — no
    * single-partition window: docs group by `doc_id / groupSize`,
    * intra-group cumsum runs as a window PARTITIONED by group (bounded
    * partitions), and the tiny group-total table (corpus/groupSize rows)
    * takes its own exclusive prefix on the driver and joins back
    * broadcast-style. Size `groupSize` so the group table stays
    * driver-collectable (10^5–10^7; recurse the same pattern for corpora
    * beyond groupSize × driver capacity).
    */
  def packSequences(docs: DataFrame, binTokens: Long,
      groupSize: Long = 4096, textCol: String = "text"): DataFrame = {
    require(binTokens >= 1 && groupSize >= 1, "binTokens and groupSize must be >= 1")
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col("doc_id"),
      size(graft.ops.TextAnalysis.spaceTokens(textCol)).cast("bigint").as("n_toks"),
      expr(s"cast(doc_id as bigint) div $groupSize").as("grp")) // integer div — float division would lose precision past 2^53
    val grpRows = t.groupBy("grp").agg(sum("n_toks").as("grp_toks"))
      .orderBy("grp").collect()
    var acc = 0L
    val offsets = grpRows.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("grp", "grp_off")
    val w = Window.partitionBy("grp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(offDf), "grp")
      .withColumn("cum_before",
        coalesce(sum("n_toks").over(w), lit(0L)) + col("grp_off"))
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"), col("cum_before"),
        explode(expr(s"sequence(cum_before div ${binTokens}L, " +
          s"(cum_before + n_toks - 1) div ${binTokens}L)")).as("bin"))
      .select(col("bin"), col("doc_id"),
        greatest(col("cum_before") - col("bin") * binTokens, lit(0L))
          .as("bin_offset"),
        (least((col("bin") + 1) * binTokens, col("cum_before") + col("n_toks")) -
          greatest(col("bin") * binTokens, col("cum_before"))).as("n_toks_in_bin"))
  }

  /** Row-level resume: anti-join against already-committed urls. The
    * committed side is a skinny (url) projection; AQE broadcasts it when
    * small, else it runs as a shuffled anti-join.
    */
  def resumeByUrl(pages: DataFrame, committedUrls: DataFrame): DataFrame =
    pages.join(committedUrls.select("url"), Seq("url"), "left_anti")

  /** Per-bucket lineage + throughput metrics row, checkpointed alongside the
    * data (north_star: "per-partition lineage + parse-error/throughput
    * metrics checkpointed to a metrics table so any run is resumable").
    */
  final case class BucketMetrics(
      bucket: Long,
      docs: Long,
      parse_ok_docs: Long,
      bytes_in: Long,
      chars_out: Long,
      wall_sec: Double,
      docs_per_sec: Double,
      attempt: Int)

  /** Append a metrics row for a committed bucket under `_metrics/` (each
    * bucket's metrics live in their own subdir so re-runs overwrite rather
    * than duplicate — idempotent like the data itself).
    */
  def writeBucketMetrics(spark: SparkSession, table: String, m: BucketMetrics): Unit = {
    import spark.implicits._
    Seq(m).toDS().toDF()
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$table/_metrics/bucket=${m.bucket}")
  }

  /** The metrics table across all buckets that have a complete metrics file
    * (empty schema-correct frame when none exist yet; a bucket dir holding
    * only a crashed write's `_temporary/` leftovers is skipped rather than
    * failing schema inference).
    */
  def metricsTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val dir = Paths.get(table, "_metrics")
    val bucketDirs =
      if (!Files.isDirectory(dir)) Seq.empty[String]
      else
        listDir(dir)
          .filter(p => p.getFileName.toString.startsWith("bucket="))
          .filter(p => Files.isDirectory(p) &&
            listDir(p).exists(_.getFileName.toString.endsWith(".parquet")))
          .map(_.toString)
    if (bucketDirs.isEmpty) spark.emptyDataset[BucketMetrics].toDF()
    else spark.read.parquet(bucketDirs: _*) // bucket is a data column
  }

  /** Attempt number for the next metrics row of `bucket` (1 + the highest
    * previously recorded attempt — counts retries across crashes).
    */
  def nextAttempt(spark: SparkSession, table: String, bucket: Long): Int = {
    val d = Paths.get(table, "_metrics", s"bucket=$bucket")
    val hasData = Files.isDirectory(d) &&
      listDir(d).exists(_.getFileName.toString.endsWith(".parquet"))
    if (!hasData) 1
    else
      try {
        val row = spark.read.parquet(d.toString).agg(max("attempt")).collect().head
        if (row.isNullAt(0)) 1 else row.getInt(0) + 1
      } catch {
        case e: Throwable =>
          // a partial/corrupt prior metrics file must not silently reset the
          // retry counter to 1 — log and mark the attempt as unknown-retry
          System.err.println(
            s"[tableio] WARN: unreadable metrics for bucket=$bucket (${e.getMessage}); recording attempt=2")
          2
      }
  }
}
