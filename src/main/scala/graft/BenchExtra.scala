package graft

/** Optimization-round helper bench (guide §1.4): times a SUBSET of the
  * declared queries with both the frozen methodology (`.count()`) and a
  * noop-sink run that computes every column. Does not touch Bench.scala
  * (frozen).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "runMain graft.tools.Main bench-extra q38 q39 q46"   // prefixes OK
  *
  * Prints per-query per-pass seconds (count + noop) so before/after deltas
  * in OPTIMIZATION_r06.md can cite isolated computations rather than suite
  * medians.
  */
object BenchExtra {
  def run(args: Array[String]): Int = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val spark = tools.Main.localSession()

    // same steady-state warmup as Bench
    graft.pipeline.ExtractJob.run(
      graft.pipeline.Synth.pages(spark, sfDir).limit(100))
      .agg(org.apache.spark.sql.functions.sum("n_nodes")).collect()

    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
        .filter(n => args.exists(a => n.startsWith(a)))
    wanted.foreach { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"benchextra: $name")
      val counts = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val noops = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name count=[${counts.map(t => f"$t%.3f").mkString(",")}] " +
        f"noop=[${noops.map(t => f"$t%.3f").mkString(",")}]")
    }
    spark.stop()
    0
  }
}
