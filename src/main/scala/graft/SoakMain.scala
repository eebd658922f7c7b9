package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Synth

/** Multi-GB SOAK of the bucketed-commit extraction path — the evidence run
  * behind BENCH.md's scale section: the sf corpus is replicated R times
  * with DISJOINT doc_id ranges (each replica offset by 10^7, so urls and
  * ids never collide), synthesized into pages, and pushed through the
  * exact [[ExtractMain.runBuckets]] loop — per-bucket commit with its
  * lineage in the manifest, snapshot log, resume after an injected kill
  * (that run exits with status 17). Reports totals
  * plus JVM peak heap so wall-time linearity and memory stability are
  * recorded numbers, not claims.
  *
  *   runMain graft.tools.Main soak <sfDir> <outTable> <nBuckets> <replication> [failAtBucket]
  */
object SoakMain {
  def run(args: Array[String]): Int = {
    val sfDir = args(0)
    val outTable = args(1)
    val nBuckets = args(2).toInt
    val rep = args(3).toInt
    val failAtBucket = if (args.length > 4) args(4).toInt else -1
    val spark = tools.Main.localSession()

    // the replica offset assumes max(doc_id) < 10^7 — a bigger sfDir would
    // silently mint colliding doc_ids/urls and void the zero-duplicate
    // evidence, so fail loudly instead
    val maxDocId = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(max("doc_id")).head.getLong(0)
    require(maxDocId < 10000000L,
      s"SoakMain replica offset needs max(doc_id) < 1e7, got $maxDocId")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("__r", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("doc_id", col("doc_id") + col("__r") * 10000000L)
      .drop("__r")
    val pages = Synth.pagesFromDocs(docs)

    val t0 = System.nanoTime()
    val status = ExtractMain.exitStatus(ExtractMain.runBuckets(spark, pages, outTable,
      nBuckets, saltParts = 0, failAtBucket = failAtBucket))
    val wall = (System.nanoTime() - t0) / 1e9

    import scala.jdk.CollectionConverters._
    val peakHeap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    println(f"[soak] replication=$rep wall=$wall%.1f s peak_heap=${peakHeap / 1e9}%.2f GB")
    spark.stop()
    status
  }
}
