package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.pipeline.ParsedDoc

/** Running per-host crawl-session state (flatMapGroupsWithState). */
final case class HostState(
    docs: Long, errors: Long, bytes: Long, firstTs: Long, lastTs: Long)

/** Emitted when a host goes quiet for the session gap. */
final case class HostSession(
    host: String, docs: Long, errors: Long, bytes: Long,
    start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

/** Per-(band,bucket) member list for the streaming near-dup state store. */
final case class BucketMembers(ids: Array[Long])

/** Last-seen content fingerprint per url (streaming crawl-delta state). */
final case class UrlFp(fp: String)

/** A crawl-delta classification emitted the micro-batch a fetch arrives. */
final case class DeltaEvent(url: String, status: String, fp: String)

/** A near-dup candidate surfaced by the streaming LSH state. */
final case class CandidatePair(id1: Long, id2: Long, band: Int, bucket: Long)

/** Structured-Streaming form of the extraction pipeline: the reference has
  * no streaming (SURVEY.md §2.G documents batch-with-resume as the covering
  * design), but the kernel composes directly with readStream sources:
  * ExtractJob.run is map-only, so the same plan runs on a streaming frame
  * per micro-batch. This object adds watermarked windowed metrics and keyed
  * state for continuous crawl-ingest monitoring.
  */
object ExtractStream {

  /** Watermarked per-minute ingest metrics (docs, parse failures, bytes).
    * Late data beyond 10 minutes is dropped; state is bounded.
    */
  def windowedMetrics(parsed: Dataset[ParsedDoc]): DataFrame =
    parsed.toDF()
      .withWatermark("warc_ts", "10 minutes")
      .groupBy(window(col("warc_ts"), "1 minute"), col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("parse_errors"),
        sum("n_bytes").as("bytes_in"))

  /** Streaming EXACT dedup — the streaming twin of the batch resume
    * anti-join (TableIO.resumeByUrl): documents whose `keyCol` was already
    * seen within the watermark horizon are dropped.
    * `dropDuplicatesWithinWatermark` keeps per-key state in the state store
    * and EVICTS keys once the watermark passes their event time, so state
    * is bounded and the stream runs forever on a crawl feed — the plain
    * streaming `dropDuplicates` would grow state without bound at 10^12
    * docs. Exactly-once per key within the horizon; across restarts /
    * beyond the horizon the committed-table anti-join is the backstop.
    * Key by `url` for recrawl suppression or by a content fingerprint
    * column for streaming exact-dedup.
    */
  def dedupStream(pages: DataFrame, keyCol: String = "url",
      watermarkDelay: String = "10 minutes"): DataFrame =
    pages.withWatermark("warc_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Custom keyed state: per-HOST crawl sessions via flatMapGroupsWithState
    * with an event-time timeout. A host's state accumulates (docs, errors,
    * bytes, first/last event time) while pages keep arriving; when the
    * watermark passes lastTs + gap the session is emitted and the state
    * cleared. State is O(hosts), bounded by the watermark — the standard
    * shape for continuous crawl monitoring at 10^12 docs (state store is
    * per-key, sharded by the shuffle on the group key).
    */
  def hostSessions(parsed: Dataset[ParsedDoc],
      gapMs: Long = 600000L): Dataset[HostSession] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val withHost = parsed.toDF()
      .withWatermark("warc_ts", "10 minutes")
      .withColumn("host", graft.ops.UrlOps.hostKey(col("url")))
      .select(col("host"), col("warc_ts"), col("parse_ok"), col("n_bytes"))
      .as[(String, java.sql.Timestamp, Boolean, Int)]

    def update(host: String,
        rows: Iterator[(String, java.sql.Timestamp, Boolean, Int)],
        state: GroupState[HostState]): Iterator[HostSession] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(HostSession(host, s.docs, s.errors, s.bytes,
          new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs)))
      } else {
        // gap splits are enforced on EVENT TIME within the batch too, not
        // only via the state timeout: a burst delivered in one micro-batch
        // can span several sessions, and merging them (the naive
        // accumulate-only update) diverges from the gap semantics the batch
        // twin `hostSessionsBatch` — and any SQL replay — computes. Rows
        // are sorted by event time first (micro-batch iterators carry no
        // order guarantee); the buffer is one host's slice of one
        // micro-batch, so it is small by construction.
        val empty = HostState(0L, 0L, 0L, Long.MaxValue, 0L)
        var s = state.getOption.getOrElse(empty)
        val out = scala.collection.mutable.ArrayBuffer.empty[HostSession]
        rows.toArray.sortBy(_._2.getTime).foreach { case (_, ts, ok, bytes) =>
          val t = ts.getTime
          if (s.docs > 0 && t - s.lastTs > gapMs) {
            out += HostSession(host, s.docs, s.errors, s.bytes,
              new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs))
            s = empty
          }
          s = HostState(s.docs + 1, s.errors + (if (ok) 0L else 1L),
            s.bytes + bytes, math.min(s.firstTs, t), math.max(s.lastTs, t))
        }
        state.update(s)
        state.setTimeoutTimestamp(s.lastTs + gapMs)
        out.iterator
      }
    }

    withHost.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** BATCH twin of [[hostSessions]]: identical session semantics (a host's
    * pages belong to one session until a gap longer than `gapSec` separates
    * them) expressed as window functions over the finished corpus — the
    * oracle-checkable replay of what the stateful stream computes
    * incrementally. Emits one row per (host, session): doc/error/byte
    * counts plus start/end EPOCHS (bigint, hash-stable across engines).
    *
    * Plan shape: one exchange on host feeds both window functions AND the
    * final aggregate (hash-partitioning on host satisfies the
    * (host, session_seq) clustering), so sessionizing 10^12 docs costs a
    * single shuffle of the skinny projection.
    */
  def hostSessionsBatch(parsed: DataFrame, gapSec: Long = 600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host").orderBy("warc_ts")
    parsed
      .withColumn("host", graft.ops.UrlOps.hostKey(col("url")))
      .select(col("host"), col("warc_ts"), col("parse_ok"), col("n_bytes"))
      .withColumn("prev_ts", lag(col("warc_ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("warc_ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("host", "session_seq")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("parse_ok"), 0L).otherwise(1L)).as("errors"),
        sum(col("n_bytes").cast("long")).as("bytes"),
        min(unix_timestamp(col("warc_ts"))).as("start_epoch"),
        max(unix_timestamp(col("warc_ts"))).as("end_epoch"))
  }

  /** Streaming NEAR-dup candidate pairs — the streaming twin of the batch
    * MinHash pipeline (Dedup.minhashCandidates, q35). Each arriving
    * document's LSH band-buckets (the same map-only `minhashBands`
    * construction the batch path uses) are checked against that bucket's
    * members seen so far; a pair (earlier_id, new_id) is emitted the moment
    * the second member arrives, so near-dups surface with per-micro-batch
    * latency instead of end-of-crawl.
    *
    * State is the per-bucket member list, CAPPED at `maxBucket` exactly
    * like the batch hot-bucket cap — a degenerate bucket would otherwise
    * grow state without bound AND emit quadratic pairs (the same pathology
    * q35's cap defuses: one bucket holds 52% of sf0.1). Members past the
    * cap neither pair nor join the list. Within a bucket, within one
    * micro-batch, rows are processed in doc_id order (micro-batch iterators
    * carry no order guarantee), so output is deterministic given the batch
    * boundaries.
    *
    * CONSUMER CONTRACT — the emitted MULTISET is exact and pinned by spec:
    * each (id1, id2) pair emits exactly once per band whose bucket both
    * members share (at the arrival of the later member), tagged with that
    * (band, bucket); a pair sharing b bands yields b rows, never more
    * (per-band state makes a same-band re-emit impossible: the second
    * member joins the member list on first contact). Cross-band dedup
    * CANNOT live in this query — Structured Streaming forbids a second
    * stateful operator downstream of flatMapGroupsWithState — and the
    * per-pair tags are information a clustering consumer wants anyway
    * (b/bands estimates the Jaccard similarity, the LSH collision-count
    * estimator). Consumers wanting distinct pairs apply [[dedupPairs]] on
    * the sink table / in foreachBatch — the streaming mirror of the
    * `distinct()` the batch twin (Dedup.minhashCandidates) runs as its own
    * final exchange. State lives for the life of the query — the right
    * semantics for dedup (history IS the signal); restart backstop is the
    * committed-table batch anti-join, same as dedupStream.
    */
  def nearDupCandidates(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 200): Dataset[CandidatePair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.ops.Dedup.minhashBands(docs, numHashes, bands)
      .as[(Long, Int, Long)]
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[(Long, Int, Long)],
         state: GroupState[BucketMembers]) =>
          var members = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
          rows.map(_._1).toArray.sorted.foreach { id =>
            if (members.length < maxBucket && !members.contains(id)) {
              members.foreach { m =>
                out += CandidatePair(math.min(m, id), math.max(m, id),
                  key._1, key._2)
              }
              members = members :+ id
            }
          }
          state.update(BucketMembers(members))
          out.iterator
      }
  }

  /** Streaming CRAWL DELTA — the streaming twin of ops.CrawlDelta (q65):
    * state = last-seen content fingerprint per url; every arriving fetch
    * classifies against it (`new` / `modified` / `unchanged`) the
    * micro-batch it arrives, so recrawl routing (skip unchanged, re-extract
    * modified) happens with per-batch latency instead of waiting for a
    * snapshot boundary. `gone` has no streaming analogue — absence is not
    * an event; the batch full-outer join covers it on snapshot boundaries.
    * Within one micro-batch a url's rows process in fingerprint order
    * (iterators carry no order guarantee), each against the updated state,
    * so output is deterministic given the batch boundaries. State is one
    * 32-byte fingerprint per url for the life of the query (history IS the
    * signal, like the dedup states); the same null-body sentinel as the
    * batch twin keeps body-less fetches classifiable.
    */
  def crawlDeltaStream(pages: DataFrame, keyCol: String = "url",
      textCol: String = "text"): Dataset[DeltaEvent] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col(keyCol).cast("string"),
        coalesce(md5(encode(col(textCol), "UTF-8")), lit("<null-body>")))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (url: String, rows: Iterator[(String, String)],
         state: GroupState[UrlFp]) =>
          var last = state.getOption.map(_.fp).orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[DeltaEvent]
          rows.map(_._2).toArray.sorted.foreach { fp =>
            val status =
              if (last == null) "new"
              else if (last == fp) "unchanged"
              else "modified"
            out += DeltaEvent(url, status, fp)
            last = fp
          }
          state.update(UrlFp(last))
          out.iterator
      }
  }

  /** Downstream pair dedup for [[nearDupCandidates]] output (sink table or
    * foreachBatch): distinct (id1, id2), dropping the per-band tags. One
    * hash-distinct exchange on the skinny pair projection — the same cost
    * the batch twin pays for its final `distinct()`.
    */
  def dedupPairs(pairs: DataFrame): DataFrame =
    pairs.select("id1", "id2").distinct()
}
