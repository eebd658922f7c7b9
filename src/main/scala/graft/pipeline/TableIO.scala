package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Iceberg-style table seam (SURVEY.md §7.6). No Iceberg runtime jar exists
  * in this sandbox, so the rule's Iceberg features are emulated: a
  * bucket-partitioned parquet layout plus a `_manifests/` JSON commit log
  * giving snapshot-style atomic bucket commits, resumability, and lineage:
  * each bucket's manifest holds its row count and, for extraction output,
  * the lineage counted while the bucket was written ([[commitBucket]]).
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

  /** Write a bucket's data. It is not committed until [[commitBucket]]
    * drops its manifest.
    */
  def writeBucketData(df: DataFrame, table: String, bucket: Long): Unit =
    df.write.mode("overwrite").parquet(s"$table/$BucketCol=$bucket")

  /** A bucket's lineage, counted while its data was written and kept in
    * its manifest.
    */
  final case class Lineage(
      docs: Long,
      parse_ok_docs: Long,
      bytes_in: Long,
      chars_out: Long,
      wall_sec: Double)

  /** The one bucket commit, after the bucket's data is fully written: one
    * atomic manifest holding `rows` and the lineage, then a snapshot. The
    * manifest is the commit point, so a crash before it leaves the bucket
    * pending and a re-run overwrites its data: no duplicate output. A crash
    * between the manifest and the snapshot is repaired by
    * [[reconcileSnapshots]].
    */
  def commitBucket(table: String, bucket: Long, rows: Long,
      lineage: Option[Lineage] = None): Unit = {
    val fields = lineage.fold("") { l =>
      s""","docs":${l.docs},"parse_ok_docs":${l.parse_ok_docs},"bytes_in":${l.bytes_in},""" +
        s""""chars_out":${l.chars_out},"wall_sec":${l.wall_sec}"""
    }
    writeAtomically(manifestDir(table), s"bucket-$bucket.json",
      s"""{"bucket":$bucket,"rows":$rows,"schema":"parsed_doc_v1"$fields}""")
    appendSnapshot(table, bucket)
  }

  private def writeAtomically(dir: Path, name: String, body: String): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Each committed bucket's lineage, read from the manifests in bucket
    * order. A bucket committed without lineage is left out.
    */
  def bucketLineage(table: String): Seq[(Long, Lineage)] =
    committedBuckets(table).toSeq.sorted.flatMap { b =>
      val body = Files.readString(manifestDir(table).resolve(s"bucket-$b.json"))
      val f = "\"([a-z_]+)\":([-0-9.E]+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toMap
      if (!f.contains("docs")) None
      else Some(b -> Lineage(f("docs").toLong, f("parse_ok_docs").toLong,
        f("bytes_in").toLong, f("chars_out").toLong, f("wall_sec").toDouble))
    }

  /** The lineage of every committed bucket as a table, one row a bucket. It
    * is built from the manifests on the driver and reads no data.
    */
  def metricsTable(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    bucketLineage(table).map { case (b, l) =>
      (b, l.docs, l.parse_ok_docs, l.bytes_in, l.chars_out, l.wall_sec,
        l.docs / math.max(l.wall_sec, 1e-9))
    }.toDF("bucket", "docs", "parse_ok_docs", "bytes_in", "chars_out", "wall_sec",
      "docs_per_sec")
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
  private def appendSnapshot(table: String, bucket: Long): Long = {
    val id = snapshots(table).lastOption.map(_._1).getOrElse(0L) + 1L
    val buckets = committedBuckets(table).toSeq.sorted
    writeAtomically(snapshotDir(table), f"snap-$id%06d.json",
      s"""{"snapshot_id":$id,"committed_bucket":$bucket,""" +
        s""""buckets":[${buckets.mkString(",")}]}""")
    id
  }

  /** Catch-up snapshot (crash-window repair): a crash BETWEEN the
    * manifest and the snapshot of [[commitBucket]] leaves a committed bucket
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
}
