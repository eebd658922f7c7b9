package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Synth, ExtractJob, TableIO}

/** The resumable extraction job (north_rule): bucketed pages → per-bucket
  * kernel extraction → bucket-committed output table whose manifests hold
  * each bucket's lineage. Re-running after a kill resumes from the last
  * committed bucket with no duplicate output (TableIO manifests are atomic).
  *
  *   runMain graft.ExtractMain <sfDir> <outTable> [nBuckets] [saltParts] [failAtBucket]
  *
  * `failAtBucket` injects a crash before committing that bucket — used to
  * drive the resume path end-to-end; the process then exits with status 17.
  */
object ExtractMain {

  /** The crash [[runBuckets]] injects before writing bucket `bucket`. */
  final class InjectedFailure(val bucket: Long)
    extends RuntimeException(s"injected failure before bucket $bucket")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outTable = args(1)
    val nBuckets = if (args.length > 2) args(2).toInt else 8
    val saltParts = if (args.length > 3) args(3).toInt else 0
    val failAtBucket = if (args.length > 4) args(4).toInt else -1
    val spark = tools.Main.localSession()
    val pages = Synth.pages(spark, sfDir)
    val status = exitStatus(runBuckets(spark, pages, outTable, nBuckets, saltParts, failAtBucket))
    spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** 0 when `run` returns, 17 when it throws an [[InjectedFailure]]. */
  def exitStatus(run: => Unit): Int =
    try { run; 0 }
    catch {
      case e: InjectedFailure =>
        println(s"[extract] ${e.getMessage}")
        17
    }

  /** The bucketed-commit loop shared by [[ExtractMain]] and [[SoakMain]]
    * (`graft.tools.Main soak`): pending-bucket discovery (resume-aware),
    * then per bucket one write job that also counts the bucket's lineage
    * (an `Observation` of [[ExtractJob.metricAggs]]) and one
    * [[TableIO.commitBucket]] that keeps it in the manifest. The end-of-run
    * totals are summed from the manifests, so nothing written is read back.
    * `failAtBucket` throws an [[InjectedFailure]] BEFORE that bucket's write
    * to drive the resume path.
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
      if (bucket == failAtBucket) throw new InjectedFailure(bucket)
      val t0 = System.nanoTime()
      val slice = pending.filter(col(TableIO.BucketCol) === bucket)
        .drop(TableIO.BucketCol)
      val counts = Observation()
      TableIO.writeBucketData(
        ExtractJob.run(slice, saltPartitions = saltParts).toDF()
          .observe(counts, ExtractJob.metricAggs.head, ExtractJob.metricAggs.tail: _*),
        outTable, bucket)
      val wall = (System.nanoTime() - t0) / 1e9
      val n = counts.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
      TableIO.commitBucket(outTable, bucket, n("docs"), Some(TableIO.Lineage(
        n("docs"), n("parse_ok_docs"), n("bytes_in"), n("chars_out"), wall)))
      println(f"[extract] committed bucket $bucket: ${n("docs")} docs in $wall%.2f s")
    }

    val lineage = TableIO.bucketLineage(outTable).map(_._2)
    println(s"[extract] done: buckets=${TableIO.committedBuckets(outTable).size} " +
      s"docs=${lineage.map(_.docs).sum} parse_ok=${lineage.map(_.parse_ok_docs).sum} " +
      s"bytes_in=${lineage.map(_.bytes_in).sum} chars_out=${lineage.map(_.chars_out).sum} " +
      f"wall_sec=${lineage.map(_.wall_sec).sum}%.2f")
  }
}
