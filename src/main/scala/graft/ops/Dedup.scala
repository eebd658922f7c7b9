package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Exact dedup is plain hash-groupBy (see SparkEntry q11). The sketch-based
  * near-dup operators here follow the standard MinHash/LSH and SimHash
  * constructions; they are deterministic (fixed hash family, no RNG) so
  * results are stable across runs and cluster sizes.
  *
  * Scale shape: everything is per-row map work + one groupBy on (band,
  * bucket) — the canonical shuffle-light near-dup layout for 10^12 docs.
  */
object Dedup {

  /** FNV-1a 64-bit — stable token hash (no dependence on JVM hashCode). */
  private[ops] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** murmur3-style 64-bit finalizer — full avalanche. */
  private[ops] def mix64(z0: Long): Long = {
    var z = z0
    z ^= (z >>> 33); z *= 0xff51afd7ed558ccdL
    z ^= (z >>> 33); z *= 0xc4ceb9fe1a85ec53L
    z ^= (z >>> 33)
    z
  }

  private def seed(i: Int): Long = mix64((i + 1).toLong * 0x9E3779B97F4A7C15L)

  /** MinHash signature of a token set under `numHashes` independent strong
    * hash functions h_i(x) = mix64(x ^ seed_i) (min-wise behavior requires
    * full-avalanche hashes; affine families with small multipliers are NOT
    * min-wise independent). Mins compared unsigned.
    */
  private[ops] def minhashSig(tokens: Iterable[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(-1L) // unsigned max
    tokens.foreach { t =>
      val x = fnv1a64(t)
      var i = 0
      while (i < numHashes) {
        val v = mix64(x ^ seed(i))
        if (java.lang.Long.compareUnsigned(v, sig(i)) < 0) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** (doc_id, band, bucket) rows: docs sharing (band, bucket) are near-dup
    * candidates; the downstream candidate join is a groupBy on this key.
    */
  def minhashBands(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val bandsUdf = udf { (text: String) =>
      if (text == null) Array.empty[Long]
      else {
        val toks = text.split("\\s+").toSet
        val sig = minhashSig(toks, numHashes)
        Array.tabulate(bands) { b =>
          var h = 0xcbf29ce484222325L
          var r = 0
          while (r < rows) {
            h ^= sig(b * rows + r)
            h *= 0x100000001b3L
            r += 1
          }
          h
        }
      }
    }
    docs.select(col("doc_id"), posexplode(bandsUdf(col("text"))).as(Seq("band", "bucket")))
      .select(col("doc_id"), col("band").cast("int").as("band"), col("bucket"))
  }

  /** Near-dup candidate pairs: docs that share any (band, bucket).
    *
    * `maxBucket` caps bucket population before the self-join: one degenerate
    * bucket (empty docs, boilerplate) otherwise goes quadratic — 10^6 docs
    * sharing a band hash would emit 5×10^11 candidate pairs from a single
    * key. Over-cap buckets are dropped from candidacy (they carry ~no
    * near-dup signal: everything matches everything); use `hotBuckets` to
    * audit what was dropped.
    */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 10000): DataFrame = {
    // materialize the skinny (doc_id, band, bucket) proxy table ONCE (lazy
    // localCheckpoint — the first action computes and pins it): the cap
    // aggregation, the membership join, and both sides of the candidate
    // self-join all read the 20-byte rows instead of re-running the minhash
    // UDF over the corpus per consumer (guide §8: decide on lightweight
    // proxies computed in one pass; measured 2 full UDF passes → 1)
    val b = minhashBands(docs, numHashes, bands).localCheckpoint(false)
    val keep = b.groupBy("band", "bucket").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket).select("band", "bucket")
    val kept = b.join(keep, Seq("band", "bucket"))
      .select("doc_id", "band", "bucket")
    val l = kept.toDF("id1", "band", "bucket")
    val r = kept.toDF("id2", "band2", "bucket2")
    l.join(r, col("band") === col("band2") && col("bucket") === col("bucket2") &&
        col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** One pass over the skinny id column proving `doc_id` is unique —
    * duplicate ids silently corrupt components (join fan-out multiplies
    * edges; min-label picks between conflicting rows), so the iterative
    * loops verify by default. One extra distinct-agg action; disable via
    * `validateIds = false` when the caller has already proven uniqueness
    * (e.g. the ids ARE a groupBy key).
    */
  private def requireDistinctIds(ids: DataFrame): Unit = {
    val row = ids.agg(count(lit(1)), countDistinct(col("doc_id"))).head
    require(row.getLong(0) == row.getLong(1),
      s"clustering ids must be distinct: ${row.getLong(0)} rows, " +
        s"${row.getLong(1)} distinct doc_ids")
  }

  /** Connected components over a bipartite doc↔bucket membership table —
    * the step that actually deduplicates a corpus (each cluster keeps one
    * canonical doc), and the scale-correct formulation for LSH clustering:
    * a bucket of k docs contributes k membership edges instead of k(k-1)/2
    * candidate pairs, so the edge table stays LINEAR in the corpus no matter
    * how dense the near-dup structure is. Components are identical to the
    * pairwise formulation (a bucket's docs form a clique either way), and a
    * candidate pair is just a bucket with two members.
    *
    * Pregel-style min-label propagation: every doc's label converges to the
    * smallest doc_id reachable through shared buckets. One round =
    * doc→bucket min + bucket→doc min (exactly one pair-graph hop, each min
    * an equi-join + partial-aggregated groupBy — shuffle-on-key, no
    * driver-side graph) + pointer jump. `ids` must contain every doc
    * (singletons cluster as themselves); members missing from `ids` still
    * propagate labels but emit no output row of their own.
    *
    * Each round's labels are `localCheckpoint`ed, not merely cached: the
    * checkpoint truncates the LOGICAL plan to a scan of the materialized
    * round, so analyzer/optimizer cost and plan depth stay CONSTANT per
    * round instead of nesting every prior round (pre-fix the final plan
    * carried 4,088 Exchange nodes; post-fix ≤ a handful), and a lost block
    * at round k recomputes round k only, not the whole k-round join chain.
    * Blocks from rounds ≥2 back are unreferenced and reclaimed by the
    * ContextCleaner. On a real cluster with node churn, swap
    * localCheckpoint for reliable `checkpoint()` into the table dir — same
    * plan shape, executor-loss-proof.
    */
  def clustersFromMemberships(ids: DataFrame, memberships: DataFrame,
      maxIter: Int = 50, validateIds: Boolean = true): DataFrame = {
    if (validateIds) requireDistinctIds(ids)
    val member = memberships.select(col("doc_id").as("mid"), col("bucket_key"))
      .cache()
    // lazy localCheckpoint: the labelSum action below materializes it
    var labels = ids.select(col("doc_id").as("id"))
      .withColumn("label", col("id")).localCheckpoint(false)
    // labels are monotonically non-increasing per doc, so the global sum
    // strictly decreases iff ANY label changed — convergence costs ONE agg
    // action per round instead of a per-row comparison join
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val bucketMin = member.join(labels, col("mid") === col("id"))
        .groupBy(col("bucket_key")).agg(min("label").as("bmin"))
      val docMin = member.join(bucketMin, "bucket_key")
        .groupBy(col("mid")).agg(min("bmin").as("nmin"))
      val hopped = labels.join(docMin, col("id") === col("mid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jump: label(id) <- label(label(id)). A label is always a
      // doc id in the same component whose own label can only be smaller,
      // so the jump is valid and halves remaining path lengths — rounds
      // become O(log diameter) instead of O(diameter) on chain-shaped
      // candidate graphs (measured 50+ -> ~7 rounds on sf0.1)
      val byId = hopped.select(col("id").as("jid"), col("label").as("jlabel"))
      val next = hopped.join(byId, hopped("label") === byId("jid"), "left")
        .select(hopped("id"),
          coalesce(col("jlabel"), hopped("label")).as("label"))
        .localCheckpoint(false)
      val s = labelSum(next) // materializes the checkpoint
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    member.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** MinHash near-dup clusters end to end: bands → hot-bucket cap →
    * bipartite connected components (candidate PAIRS are never
    * materialized — clustering doesn't need them).
    */
  def nearDupClusters(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 10000): DataFrame = {
    // NOT checkpointed here (unlike minhashCandidates): the membership
    // table is cache()d inside clustersFromMemberships anyway, so only the
    // cap aggregation re-runs the minhash UDF — measured at sf0.1, a bands
    // checkpoint UNDER that cache double-materializes nearly identical
    // rows and costs more than the one UDF pass it saves
    val b = minhashBands(docs, numHashes, bands)
    val keep = b.groupBy("band", "bucket").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket).select("band", "bucket")
    val kept = b.join(keep, Seq("band", "bucket"))
      .select(col("doc_id"), struct(col("band"), col("bucket")).as("bucket_key"))
    clustersFromMemberships(docs.select("doc_id"), kept)
  }

  /** The dedup ENDGAME: materialize the deduplicated corpus. Keeps exactly
    * one canonical doc per cluster — the one whose doc_id equals the
    * cluster_id (min-label components guarantee the cluster_id IS a member's
    * doc_id, so every cluster keeps exactly one survivor) — and annotates it
    * with `cluster_size` (1 = the doc was unique) so downstream sampling /
    * weighting can see how much mass each survivor represents.
    *
    * Scale shape: the canonical set is derived from the skinny (doc_id,
    * cluster_id) table with one groupBy, then a single equi-join against the
    * corpus on doc_id — the corpus shuffles once (zero times if it is
    * already bucketed by doc_id). No driver-side state.
    */
  def dedupCorpus(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val canon = clusters.filter(col("doc_id") === col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_size"))
    docs.join(canon, "doc_id")
  }

  /** One-row drop-stats summary of a clustering: how much the dedup pass
    * removed and how it was distributed (the numbers a pipeline operator
    * checks before committing a destructive materialization).
    */
  def dedupStats(clusters: DataFrame): DataFrame =
    clusters.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("cluster_id")).as("n_kept"),
      (count(lit(1)) - countDistinct(col("cluster_id"))).as("n_dropped"),
      sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
        .as("n_non_canonical"))

  /** Audit surface for the candidate-join cap: (band, bucket, n) for every
    * bucket whose population exceeds `maxBucket` — the buckets
    * minhashCandidates would exclude.
    */
  def hotBuckets(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      maxBucket: Int = 10000): DataFrame =
    minhashBands(docs, numHashes, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxBucket)

  /** 64-bit SimHash over whitespace tokens (unit weights). */
  def simhash(docs: DataFrame): DataFrame = {
    val sim = udf { (text: String) =>
      if (text == null) 0L
      else {
        val counts = new Array[Int](64)
        text.split("\\s+").foreach { t =>
          val h = fnv1a64(t)
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
        var out = 0L
        var bit = 0
        while (bit < 64) {
          if (counts(bit) > 0) out |= (1L << bit)
          bit += 1
        }
        out
      }
    }
    docs.select(col("doc_id"), sim(col("text")).as("simhash"))
  }

  /** Hamming distance between simhashes — the near-dup predicate. */
  val hamming = udf { (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b) }

  /** SimHash near-dup pairs at hamming distance <= maxHamming, found by
    * PIGEONHOLE-EXACT chunk banding: split each 64-bit simhash into
    * `maxHamming + 1` equal-ish chunks — any pair differing in at most
    * `maxHamming` bits must agree EXACTLY on at least one chunk, so an
    * equi-join on (chunk index, chunk value) has 100% recall by
    * construction (Manku et al., WWW'07). The exact hamming filter then
    * re-ranks candidates. Scale shape: per-row map + equi-join on narrow
    * keys — never an all-pairs scan — yet provably equivalent to one, which
    * is what lets a brute-force O(n^2) oracle hash-check the banded plan.
    *
    * `maxBucket` handles degenerate chunk buckets (constant hash regions
    * across the corpus) WITHOUT sacrificing exactness: members of an
    * over-cap bucket are re-bucketed by a SECOND pigeonhole over a
    * boundary-shifted (rotated) chunking of the same hash. Any partition of
    * all 64 bits into maxHamming+1 parts satisfies the pigeonhole argument,
    * so two members of a hot bucket at hamming <= maxHamming must also
    * agree on at least one rotated chunk — the pair survives in a
    * (bucket, rotated-chunk) sub-bucket and recall stays 100%. Sub-buckets
    * are joined in full: a bucket that is degenerate under BOTH chunkings
    * holds genuinely near-identical hashes, whose quadratic pair set is the
    * semantically correct output (cluster via [[clustersFromMemberships]]
    * when materializing those pairs is not wanted).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64)
    val nChunks = maxHamming + 1
    val width = 64 / nChunks // trailing chunk absorbs the remainder bits
    import org.apache.spark.sql.Column
    // unsigned extract of bits [lo, hi) of `src`, one column per chunk
    def chunkCols(src: Column): Seq[Column] = (0 until nChunks).map { i =>
      val lo = i * width
      val hi = if (i == nChunks - 1) 64 else lo + width
      shiftrightunsigned(src, lo)
        .bitwiseAND(lit(if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L))
    }
    val sh = simhash(docs)
    // one simhash pass: the chunk table feeds the bucket-count aggregation,
    // the small/hot splits, AND (via kept) both sides of the candidate
    // self-join — without the checkpoint the simhash UDF re-runs over the
    // corpus for every consumer (4 passes measured in the sf0.1 plan)
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(chunkCols(col("simhash")): _*)).as(Seq("chunk", "cval")))
      .localCheckpoint(false)
    val counts = chunked.groupBy("chunk", "cval").agg(count(lit(1)).as("__bn"))
    // under-cap buckets join directly; sub = -1 keeps their keys disjoint
    // from the split level below
    val small = chunked
      .join(counts.filter(col("__bn") <= maxBucket).select("chunk", "cval"),
        Seq("chunk", "cval"))
      .select(col("chunk"), col("cval"), lit(-1).as("sub"),
        lit(0L).as("subval"), col("doc_id"), col("simhash"))
    // over-cap buckets: second-level pigeonhole over a rotated chunking
    // (boundaries shifted by width/2 bits — still a partition of all 64
    // bits, so the recall argument applies verbatim)
    val rot = math.max(1, width / 2)
    val rotated = shiftleft(col("simhash"), rot)
      .bitwiseOR(shiftrightunsigned(col("simhash"), 64 - rot))
    val hotSub = chunked
      .join(counts.filter(col("__bn") > maxBucket).select("chunk", "cval"),
        Seq("chunk", "cval"))
      .select(col("chunk"), col("cval"), col("doc_id"), col("simhash"),
        posexplode(array(chunkCols(rotated): _*)).as(Seq("sub", "subval")))
      .select(col("chunk"), col("cval"), col("sub"), col("subval"),
        col("doc_id"), col("simhash"))
    val kept = small.union(hotSub)
    val a = kept.toDF("chunk", "cval", "sub", "subval", "id1", "sh1")
    val b = kept.toDF("chunk", "cval", "sub", "subval", "id2", "sh2")
    a.join(b, Seq("chunk", "cval", "sub", "subval"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** n-gram (shingle) Jaccard similarity between explicit candidate pairs:
    * explode shingles → join → count. `pairs` has (id1, id2).
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3): DataFrame = {
    val shingleUdf = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val toks = text.split("\\s+")
        if (toks.length < n) Array(toks.mkString(" "))
        else Array.tabulate(toks.length - n + 1)(i => toks.slice(i, i + n).mkString(" ")).distinct
      }
    }
    val sh = docs.select(col("doc_id"), explode(shingleUdf(col("text"))).as("sh"))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("id1", "sha")
    val b = sh.toDF("id2", "shb")
    val inter = pairs.join(a, Seq("id1")).join(b, Seq("id2"))
      .filter(col("sha") === col("shb"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    // keep zero-intersection pairs (jaccard 0.0) — a dropped row would read
    // as "not evaluated" rather than "dissimilar" downstream
    pairs.join(inter, Seq("id1", "id2"), "left")
      .na.fill(0L, Seq("inter"))
      .join(counts.toDF("id1", "n1"), "id1")
      .join(counts.toDF("id2", "n2"), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
  }
}
