package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.{Synth, ExtractJob, TableIO}

/** The resumable extraction job (north_rule): bucketed pages → per-bucket
  * kernel extraction → bucket-committed output table with manifest lineage.
  * Re-running after a kill resumes from the last committed bucket with no
  * duplicate output (TableIO manifests are atomic).
  *
  *   runMain graft.ExtractMain <sfDir> <outTable> [nBuckets] [saltParts] [failAtBucket]
  *
  * `failAtBucket` injects a crash before committing that bucket — used to
  * drive the resume path end-to-end.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outTable = args(1)
    val nBuckets = if (args.length > 2) args(2).toInt else 8
    val saltParts = if (args.length > 3) args(3).toInt else 0
    val failAtBucket = if (args.length > 4) args(4).toInt else -1
    val spark = tools.Main.localSession()
    val pages = Synth.pages(spark, sfDir)
    runBuckets(spark, pages, outTable, nBuckets, saltParts, failAtBucket)
    spark.stop()
  }

  /** The bucketed-commit loop shared by [[ExtractMain]] and [[SoakMain]]
    * (`graft.tools.Main soak`): pending-bucket discovery (resume-aware),
    * per-bucket extraction + atomic commit + lineage metrics + snapshot append, then
    * the end-of-run totals. `failAtBucket` injects a crash BEFORE that
    * bucket's commit to drive the resume path.
    */
  def runBuckets(spark: SparkSession, pages: org.apache.spark.sql.DataFrame,
      outTable: String, nBuckets: Int, saltParts: Int,
      failAtBucket: Int): Unit = {
    val committed = TableIO.committedBuckets(outTable)
    if (committed.nonEmpty)
      println(s"[extract] resuming: buckets ${committed.toSeq.sorted.mkString(",")} already committed")
    // repair the commit→snapshot crash window: a manifest with no matching
    // snapshot entry gets a catch-up snapshot before any new work
    TableIO.reconcileSnapshots(outTable).foreach { id =>
      println(s"[extract] reconciled snapshot log: catch-up snapshot $id")
    }
    val pending = TableIO.pendingOnly(pages, outTable, nBuckets)
    val pendingBuckets = pending.select(TableIO.BucketCol).distinct()
      .collect().map(_.getLong(0)).sorted

    pendingBuckets.foreach { bucket =>
      if (bucket == failAtBucket) {
        println(s"[extract] injected failure before bucket $bucket")
        spark.stop()
        sys.exit(17)
      }
      val t0 = System.nanoTime()
      val slice = pending.filter(col(TableIO.BucketCol) === bucket)
        .drop(TableIO.BucketCol)
      val parsed = ExtractJob.run(slice, saltPartitions = saltParts).toDF()
      TableIO.writeBucketData(parsed, outTable, bucket)
      val wall = (System.nanoTime() - t0) / 1e9
      // ONE read of the written parquet serves both the lineage metrics and
      // the manifest row count (no recompute of the parse); the metrics row
      // lands BEFORE the manifest so a crash between the two can only lose
      // an uncommitted bucket, never a committed bucket's lineage
      val written = spark.read.parquet(s"$outTable/${TableIO.BucketCol}=$bucket")
      val m = written.agg(ExtractJob.metricAggs.head, ExtractJob.metricAggs.tail: _*)
        .collect().head
      TableIO.writeBucketMetrics(spark, outTable, TableIO.BucketMetrics(
        bucket, m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
        wall, m.getLong(0) / math.max(wall, 1e-9),
        attempt = TableIO.nextAttempt(spark, outTable, bucket)))
      TableIO.commitManifest(outTable, bucket, m.getLong(0))
      TableIO.appendSnapshot(outTable, bucket)
      println(f"[extract] committed bucket $bucket: ${m.getLong(0)} docs in $wall%.2f s")
    }

    val out = spark.read.parquet(outTable)
    val m = out.agg(count(lit(1)), sum(when(col("parse_ok"), 1L).otherwise(0L)),
      sum("n_bytes")).collect().head
    println(s"""[extract] done: docs=${m.getLong(0)} parse_ok=${m.getLong(1)} bytes_in=${m.getLong(2)} buckets=${TableIO.committedBuckets(outTable).size}""")
    val mt = TableIO.metricsTable(spark, outTable)
    if (!mt.isEmpty) {
      val tot = mt.agg(sum("docs"), sum("wall_sec")).collect().head
      println(f"[extract] metrics table: ${mt.count()} bucket rows, ${tot.getLong(0)} docs, ${tot.getDouble(1)}%.2f wall-sec")
    }
  }
}
