package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-cluster-size scaling evidence (BASELINE.json north_rule): the sandbox
  * has no multi-node cluster, so the same extraction job runs at parallelism
  * N and 4N on the same deterministic input and we report throughput at both
  * plus the scaling efficiency thr(4N) / (4 · thr(N)).
  *
  * Methodology notes:
  *   - this is a shared Firecracker VM with noisy-neighbor interference
  *     (identical single-core runs vary up to 5× with zero GC time), so the
  *     two configurations are measured INTERLEAVED (N, 4N, N, 4N, …) in one
  *     JVM and we report best + median of `trials` passes each;
  *   - parallelism is controlled by partition count on a local[4N] master:
  *     a dataset with exactly K equal partitions runs as one wave of K
  *     concurrent tasks, CPU-equivalent to a K-core cluster;
  *   - page bodies are inflated to Common-Crawl-realistic size (~20 KB) so
  *     per-doc kernel work dominates per-row plumbing, as it does on real
  *     crawl data.
  *
  *   runMain graft.tools.Main scaling [N] [replicate] [trials] [sfDir]
  */
object ScalingBench {

  def run(args: Array[String]): Int = {
    val n = if (args.length > 0) args(0).toInt else 4
    val replicate = if (args.length > 1) args(1).toInt else 20
    val trials = if (args.length > 2) args(2).toInt else 5
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"

    val spark = tools.Main.localSession(4 * n)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep partition counts exact

    val filler = concat(lit("<div class=\"sec\"><h2>section</h2><p>"),
      col("text"), lit("</p><ul><li>a</li><li>b</li></ul></div>"))
    val base = graft.pipeline.Synth.pages(spark, sfDir)
      .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
      .withColumn("url", concat(col("url"), lit("#"), col("rep")))
      .withColumn("html",
        encode(concat(decode(col("html"), "UTF-8"), repeat(filler, 60)), "UTF-8"))

    def prep(parts: Int): DataFrame = {
      val df = base.repartition(parts).cache()
      df.count()
      df
    }
    val dsN = prep(n)
    val ds4N = prep(4 * n)
    val docs = dsN.count()

    def once(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      graft.pipeline.ExtractJob.run(df).agg(sum("n_nodes")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once(dsN); once(ds4N) // warmup both paths

    val timesN = Array.ofDim[Double](trials)
    val times4N = Array.ofDim[Double](trials)
    for (t <- 0 until trials) { // interleaved: host noise hits both configs
      timesN(t) = once(dsN)
      times4N(t) = once(ds4N)
    }
    def best(a: Array[Double]) = a.min
    def median(a: Array[Double]) = a.sorted.apply(a.length / 2)
    val thrNb = docs / best(timesN)
    val thr4b = docs / best(times4N)
    val thrNm = docs / median(timesN)
    val thr4m = docs / median(times4N)
    // pairwise efficiency: each (N, 4N) pair runs back-to-back, so slow host
    // windows hit both sides of the ratio — the median of pair ratios is the
    // noise-robust estimator on this shared VM
    val pairEff = timesN.indices.map(i => timesN(i) / (4 * times4N(i))).toArray
    val effPairMed = median(pairEff)
    val effPairMax = pairEff.max
    println(
      f"""{"metric":"scaling","n_cores":$n,"docs":$docs,"thr_N_best":$thrNb%.1f,"thr_4N_best":$thr4b%.1f,"thr_N_median":$thrNm%.1f,"thr_4N_median":$thr4m%.1f,"efficiency_best":${thr4b / (4 * thrNb)}%.3f,"efficiency_median":${thr4m / (4 * thrNm)}%.3f,"efficiency_pair_median":$effPairMed%.3f,"efficiency_pair_max":$effPairMax%.3f}""")
    spark.stop()
    0
  }
}
