package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID, quality
  * scoring, tokenization, and document fingerprinting. All deterministic,
  * no external models (heuristics encode only public linguistic facts).
  */
object TextAnalysis {

  // ---- language identification (char-class + stopword-profile heuristic) ----

  // ORDERED (ties -> earlier wins; the Python fixture mirror keeps the
  // identical list order). Non-ASCII is \u-escaped so source round-trips
  // can never silently re-compose the byte sequence the profiles match on.
  private val stopwords: Vector[(String, Set[String])] = Vector(
    "en" -> Set("the", "of", "and", "to", "in", "is", "it", "that", "was",
      "for", "with", "his", "her", "this", "are", "not", "you"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "un", "une", "du",
      "en", "est", "que", "pour", "dans", "qui", "pas", "sur"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "un", "una", "del",
      "en", "es", "que", "por", "para", "con", "no", "se"),
    "de" -> Set("der", "die", "das", "und", "ein", "eine", "von", "zu",
      "mit", "ist", "den", "nicht", "auf", "sich", "des", "im", "f\u00fcr"),
    "pt" -> Set("n\u00e3o", "s\u00e3o", "uma", "os", "das", "dos", "em",
      "por", "com", "mais", "foi", "como", "mas", "seu", "sua"),
    "it" -> Set("il", "gli", "che", "di", "per", "non", "sono", "della",
      "nel", "alla", "come", "anche", "pi\u00f9", "questo", "questa"),
    "nl" -> Set("het", "een", "van", "dat", "die", "niet", "met", "voor",
      "zijn", "ook", "maar", "naar", "heeft", "wordt", "deze"),
    "pl" -> Set("w", "na", "z", "do", "nie", "si\u0119", "jest", "jak",
      "ale", "czy", "tak", "dla", "przez", "ju\u017c", "tylko"),
    "tr" -> Set("ve", "bir", "bu", "i\u00e7in", "ile", "gibi", "daha",
      "\u00e7ok", "olarak", "ama", "kadar", "sonra", "olan", "ben"),
    "sv" -> Set("och", "att", "det", "som", "\u00e4r", "p\u00e5", "av",
      "f\u00f6r", "med", "till", "den", "har", "inte", "om", "ett"),
    "vi" -> Set("v\u00e0", "c\u1ee7a", "l\u00e0", "c\u00f3",
      "kh\u00f4ng", "\u0111\u01b0\u1ee3c", "trong", "\u0111\u00e3",
      "ng\u01b0\u1eddi", "m\u1ed9t", "cho", "v\u1edbi",
      "nh\u1eefng", "n\u00e0y"),
    "id" -> Set("yang", "dan", "di", "itu", "dengan", "untuk", "tidak",
      "ini", "dari", "dalam", "akan", "pada", "juga", "saya", "ke"))

  /** Heuristic language ID by script + stopword profile: within CJK-heavy
    * text, kana (Hiragana/Katakana) distinguishes Japanese and Hangul
    * distinguishes Korean — Japanese prose is typically 20–50% kana (any
    * share >= 10% of CJK letters is decisive), Korean is nearly all Hangul;
    * Han-only text is labeled zh. Cyrillic → ru; otherwise best
    * stopword-profile score among the 12 Latin-script profiles
    * (en/fr/es/de/pt/it/nl/pl/tr/sv/vi/id — ordered, ties to the earlier
    * entry; "und" when nothing scores).
    */
  def langIdOf(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var han = 0
    var kana = 0
    var hangul = 0
    var cyr = 0
    var letters = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val b = Character.UnicodeBlock.of(c)
        if (b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS) han += 1
        else if (b == Character.UnicodeBlock.HIRAGANA ||
          b == Character.UnicodeBlock.KATAKANA) kana += 1
        else if (b == Character.UnicodeBlock.HANGUL_SYLLABLES) hangul += 1
        else if (b == Character.UnicodeBlock.CYRILLIC) cyr += 1
      }
      i += 1
    }
    if (letters == 0) return "und"
    val cjk = han + kana + hangul
    if (cjk * 3 > letters) {
      if (kana * 10 >= cjk) return "ja"
      if (hangul * 2 >= cjk) return "ko"
      return "zh"
    }
    if (cyr * 3 > letters) return "ru"
    val toks = text.toLowerCase.split("[^\\p{L}]+")
    var best = "und"
    var bestScore = 0
    stopwords.foreach { case (lang, set) =>
      var score = 0
      toks.foreach(t => if (set.contains(t)) score += 1)
      if (score > bestScore) { bestScore = score; best = lang }
    }
    best
  }

  val langIdUdf = udf { (text: String) => langIdOf(text) }

  def langId(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("lang_guess", langIdUdf(col(textCol)))

  // ---- quality scoring (pure Column arithmetic — stays in codegen) ----

  /** Length / punctuation / stopword / repetition heuristics as columns.
    * All built-in functions; no UDF in this path.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(t, "\\s+")
    docs
      .withColumn("q_chars", length(t).cast("long"))
      .withColumn("q_tokens", size(toks).cast("long"))
      .withColumn("q_avg_word_len",
        when(size(toks) > 0,
          (length(t) - size(toks) + 1).cast("double") / size(toks)).otherwise(0.0))
      .withColumn("q_punct_ratio",
        when(length(t) > 0,
          (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double") /
            length(t)).otherwise(0.0))
      .withColumn("q_stop_ratio",
        when(size(toks) > 0,
          expr(s"size(filter(split($textCol, '\\\\s+'), " +
            "x -> x in ('the','of','and','a','to','in','is','it')))").cast("double") /
            size(toks)).otherwise(0.0))
      .withColumn("q_uniq_ratio",
        when(size(toks) > 0,
          size(array_distinct(toks)).cast("double") / size(toks)).otherwise(0.0))
  }

  /** The quality GATE every training pipeline runs between extraction and
    * dedup: deterministic threshold predicates over [[qualityScore]]'s
    * columns, surfaced as a `q_pass` flag so callers can either filter or
    * audit. Pure Column arithmetic end to end — the gate stays inside
    * whole-stage codegen, and because every ratio is a division of exact
    * integer counts the same IEEE doubles fall out of the DuckDB oracle
    * (q45 hash-checks the pass/drop decision itself, not a sample).
    */
  def qualityGate(docs: DataFrame, minChars: Long = 100, minTokens: Long = 20,
      maxPunctRatio: Double = 0.3, minUniqRatio: Double = 0.55,
      textCol: String = "text"): DataFrame =
    qualityScore(docs, textCol).withColumn("q_pass",
      col("q_chars") >= minChars && col("q_tokens") >= minTokens &&
        col("q_punct_ratio") <= maxPunctRatio && col("q_uniq_ratio") >= minUniqRatio)

  /** Materialize the gated corpus (dropping the per-doc score columns is the
    * caller's choice; they ride along like `cluster_size` does for dedup).
    */
  def qualityFilter(docs: DataFrame, minChars: Long = 100, minTokens: Long = 20,
      maxPunctRatio: Double = 0.3, minUniqRatio: Double = 0.55,
      textCol: String = "text"): DataFrame =
    qualityGate(docs, minChars, minTokens, maxPunctRatio, minUniqRatio, textCol)
      .filter(col("q_pass")).drop("q_pass")

  /** One-row drop summary (the pre-commit audit, mirroring dedupStats). */
  def qualityStats(gated: DataFrame): DataFrame =
    gated.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("q_pass"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(!col("q_pass"), 1L).otherwise(0L)).as("n_dropped"),
      sum(when(!col("q_pass"), col("q_chars")).otherwise(0L)).as("chars_dropped"))

  // ---- tokenization ----

  /** BPE-ish pre-tokenizer regex (GPT-2-style word/number/punct/space
    * classes, simplified to an RE2-compatible form).
    */
  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+|\\s+"

  /** The space-token convention of the n-gram, chunking, repetition and
    * packing ops: `textCol` split on single spaces, empty tokens (from
    * runs of spaces) dropped. The SQL text matches their DuckDB oracles'
    * `list_filter(string_split(text, ' '), x -> x <> '')`.
    */
  def spaceTokens(textCol: String): Column =
    expr(s"filter(split($textCol, ' '), x -> x <> '')")

  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_ws_tokens", size(split(col(textCol), "\\s+")).cast("long"))
      .withColumn("n_bpeish_tokens",
        size(regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0))).cast("long"))

  // ---- document fingerprinting (rolling hash / winnowing) ----

  /** Polynomial rolling hash over a char window (Rabin-Karp style). */
  private[ops] def rollingHashes(s: String, window: Int): Array[Long] = {
    if (s.length < window) return Array(Dedup.fnv1a64(s))
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < window - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * B + s.charAt(i); i += 1 }
    val out = new Array[Long](s.length - window + 1)
    out(0) = h
    i = window
    while (i < s.length) {
      h = (h - s.charAt(i - window) * pow) * B + s.charAt(i)
      out(i - window + 1) = h
      i += 1
    }
    out
  }

  /** Winnowing (Schleimer et al., SIGMOD'03): min hash per sliding window of
    * `guarantee` rolling hashes → compact, position-robust fingerprint set.
    */
  private[ops] def winnow(hashes: Array[Long], guarantee: Int): Array[Long] = {
    if (hashes.isEmpty) return hashes
    if (hashes.length <= guarantee) return Array(hashes.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i + guarantee <= hashes.length) {
      var m = hashes(i)
      var j = i + 1
      while (j < i + guarantee) { if (hashes(j) < m) m = hashes(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  /** Winnowing selection WITH positions: the same per-window leftmost-min
    * choice as [[winnow]] (so the VALUE set is identical — the spread /
    * shared-fingerprint determination stays consistent with
    * [[fingerprints]]), but keeping (position, hash) pairs so a span can
    * be mapped back to its char range for REMOVAL. A hash selected at two
    * positions keeps both (a passage repeated inside one doc marks both
    * copies).
    */
  private[ops] def winnowPositions(hashes: Array[Long],
      guarantee: Int): Array[(Int, Long)] = {
    if (hashes.isEmpty) return Array.empty
    if (hashes.length <= guarantee) {
      var mi = 0
      var i = 1
      while (i < hashes.length) { if (hashes(i) < hashes(mi)) mi = i; i += 1 }
      return Array((mi, hashes(mi)))
    }
    val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
    var i = 0
    while (i + guarantee <= hashes.length) {
      var mj = i
      var j = i + 1
      while (j < i + guarantee) { if (hashes(j) < hashes(mj)) mj = j; j += 1 }
      out += ((mj, hashes(mj)))
      i += 1
    }
    out.toArray
  }

  val fingerprintUdf = udf { (text: String) =>
    if (text == null) Array.empty[Long]
    else winnow(rollingHashes(text, 16), 8)
  }

  /** (doc_id, fingerprint) exploded rows — join on fingerprint to find
    * copied passages across documents.
    */
  def fingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"), explode(fingerprintUdf(col(textCol))).as("fingerprint"))

  /** Corpus VOCABULARY: BPE-ish token → count, thresholded — the
    * tokenizer-training precursor (and the data for frequency-based quality
    * filters). One explode + one hash agg; the partial/final split makes
    * the count map-side combined, so the shuffle carries one row per
    * distinct token per partition, not one per occurrence.
    */
  def vocabulary(docs: DataFrame, minCount: Long = 2,
      textCol: String = "text"): DataFrame =
    docs
      .select(explode(
        regexp_extract_all(col(textCol), lit(BpeishPattern), lit(0))).as("token"))
      .filter(!col("token").rlike("^\\s+$")) // whitespace runs are not vocab
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Unicode NFC normalization — the canonicalization pass a text pipeline
    * runs BEFORE any dedup/fingerprinting: composed (U+00E9 é) and
    * decomposed (e + U+0301) spellings of the same text otherwise produce
    * different dedup keys, different fingerprints, and double-counted
    * vocabulary. Per-row pure (JDK `java.text.Normalizer`), map-only at
    * any scale; `was_normalized` is the audit flag (fraction of docs that
    * actually changed). Oracle-checked against DuckDB's INDEPENDENT
    * utf8proc-based `nfc_normalize` — two unrelated Unicode
    * implementations must agree byte-for-byte for q76 to hash green.
    */
  def nfcNormalize(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val nfc = udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }
    docs
      .withColumn("nfc_text", nfc(col(textCol)))
      .withColumn("was_normalized", col(textCol) =!= col("nfc_text"))
  }

  /** BPE MERGE-PAIR counting — the first real step of tokenizer TRAINING
    * (after [[vocabulary]] gives word → count): every adjacent symbol pair
    * inside every distinct word, weighted by the word's corpus frequency;
    * the highest-count pair is the next BPE merge. Done the map-reduce way
    * BPE trainers actually distribute it: pair generation runs over the
    * (tiny) distinct-vocabulary table, NOT over the corpus — a million-
    * occurrence word contributes its pairs once with weight n. Pure
    * Column (`transform(sequence)` + explode + one map-side-combined
    * agg); exact integers, so the oracle reproduces every count.
    */
  def bpePairCounts(docs: DataFrame, minCount: Long = 2,
      textCol: String = "text"): DataFrame =
    vocabulary(docs, minCount = 1, textCol)
      .filter(length(col("token")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"), col("n"))
      .groupBy("pair").agg(sum(col("n")).as("n"))
      .filter(col("n") >= minCount)

  /** Full BPE TRAINING loop — iterated merges, the actual tokenizer-
    * training algorithm ([[bpePairCounts]] is one round's counting): the
    * corpus is touched ONCE ([[vocabulary]] — explode + map-side agg);
    * every round after that runs over the DISTINCT-WORD table only (words
    * as symbol sequences weighted by corpus frequency): count adjacent
    * pairs, take the argmax (count desc, then lexicographically smallest
    * pair — deterministic, hash-gateable), rewrite every word's symbols
    * left-to-right non-overlapping, repeat. Stops early when the best
    * pair occurs once (merging singletons learns nothing).
    *
    * Scale shape: rounds are vocab-table jobs (millions of rows at web
    * scale, never the corpus), each a map-side-combined agg + a map-only
    * rewrite with localCheckpoint lineage truncation (the q38 pattern).
    * Production trainers run exactly this primitive; a 30k-merge run
    * batches rounds, which composes from this same per-round operator.
    * Returns the learned merge table (merge_idx, left, right,
    * pair_count).
    */
  def bpeTrain(docs: DataFrame, nMerges: Int, minCount: Long = 1,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // split by CODE POINTS, not UTF-16 units: a lone surrogate symbol from
    // an astral char (emoji are routine in web corpora) would both diverge
    // from the code-point-based Python oracle and get mangled by the
    // UTF8String encoder (invalid UTF-8 → replacement char), silently
    // collapsing distinct symbols
    var vocab = vocabulary(docs, minCount, textCol)
      .as[(String, Long)]
      .map { case (t, n) =>
        val syms = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < t.length) {
          val cp = t.codePointAt(j)
          syms += new String(Character.toChars(cp))
          j += Character.charCount(cp)
        }
        (syms.toSeq, n)
      }
      .toDF("syms", "n")
      // EAGER checkpoint: every round's argmax + rewrite read these blocks;
      // lazy materialization was measured SLOWER at sf0.1 (the argmax job
      // then carries the rewrite+persist of the previous round)
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(syms) - 2), j -> " +
            "struct(syms[j] AS l, syms[j + 1] AS r))")).as("p"), col("n"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2) done = true
      else {
        val l = top.head.getAs[String]("l")
        val r = top.head.getAs[String]("r")
        merges += ((i, l, r, top.head.getAs[Long]("cnt")))
        val mergeUdf = udf { (syms: Seq[String]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += l + r; j += 2 // left-to-right, non-overlapping
            } else { out += syms(j); j += 1 }
          }
          out.toSeq
        }
        // NOTE: Dataset.unpersist does not free a localCheckpoint's RDD
        // blocks (it only clears CacheManager entries); dropping the
        // reference leaves reclamation to the ContextCleaner once the old
        // round's RDD is unreachable — which this reassignment guarantees.
        // A 30k-merge production run relies on that GC-driven cleanup.
        // The LAST round's rewrite is never read (the loop exits before the
        // next argmax), so skip building it — one full vocab rewrite +
        // checkpoint materialization saved per call.
        if (i + 1 < nMerges)
          vocab = vocab.withColumn("syms", mergeUdf(col("syms"))).localCheckpoint()
        i += 1
      }
    }
    merges.toSeq.toDF("merge_idx", "lhs", "rhs", "pair_count")
  }

  /** Benchmark DECONTAMINATION: for every training doc, how much of it
    * appears verbatim in a benchmark/eval set — measured as shared
    * winnowing fingerprints (robust to position shifts by construction;
    * same public scheme as [[fingerprints]], Schleimer et al. SIGMOD'03).
    * Returns one row per CONTAMINATED doc: distinct shared fingerprints and
    * how many distinct benchmark docs they hit; clean docs emit nothing
    * (the common case at scale — the join is inner on the fingerprint
    * key, so clean docs never shuffle past their own fingerprint rows).
    */
  def contamination(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text"): DataFrame = {
    val t = fingerprints(docs, textCol)
    val b = fingerprints(benchmark, textCol)
      .select(col("doc_id").as("bench_id"), col("fingerprint"))
    t.join(b, "fingerprint")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fingerprint")).as("n_shared_fp"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Word n-grams (space-token convention) as exploded rows — shared by
    * [[ngramContamination]]; grams join on md5 (16-byte keys instead of
    * arbitrarily long gram strings in the shuffle — the scale-smart key
    * that both engines compute identically).
    */
  private def wordGrams(df: DataFrame, n: Int, idAlias: String,
      textCol: String): DataFrame =
    df.select(col("doc_id").as(idAlias),
      spaceTokens(textCol).as("__toks"))
      .withColumn("__m", size(col("__toks")) - (n - 1))
      .filter(col("__m") >= 1)
      // unhex: the 16 raw digest bytes join/aggregate identically to the
      // 32-char hex string but shuffle half the bytes (guide §2.3 narrower
      // keys); the gram value never reaches the output, only its counts
      .select(col(idAlias), explode(expr(
        s"transform(sequence(1, __m), i -> unhex(md5(array_join(slice(__toks, i, $n), ' '))))"))
        .as("gram"))

  /** EXACT n-gram decontamination — the GPT-3-style recipe (13-gram
    * verbatim overlap with the eval set) complementing [[contamination]]'s
    * winnowing (position-robust fuzzy) check: any training doc sharing a
    * full n-token word sequence with a benchmark doc is flagged with its
    * distinct overlapping-gram count and how many benchmark docs it hits.
    * Shape: explode → inner equi-join on the md5'd gram → per-doc agg;
    * clean docs never shuffle past their own gram rows, and the benchmark
    * side (eval sets are tiny vs the corpus) broadcasts at scale.
    */
  def ngramContamination(docs: DataFrame, benchmark: DataFrame, n: Int = 13,
      textCol: String = "text",
      broadcastBenchmark: Boolean = true): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val t = wordGrams(docs, n, "doc_id", textCol)
    // explicit broadcast by default: real eval sets are tiny vs the corpus
    // (the scaladoc contract), and size ESTIMATES after the gram explode
    // are far too large for the planner to ever choose it on its own —
    // broadcasting the benchmark grams means the corpus-side gram stream
    // never shuffles at all (clean docs do zero shuffle work). A caller
    // decontaminating against something corpus-sized passes false and
    // gets the shuffled equi-join back.
    val b0 = wordGrams(benchmark, n, "bench_id", textCol).distinct()
    val b = if (broadcastBenchmark) broadcast(b0) else b0
    t.join(b, "gram")
      .groupBy("doc_id").agg(
        countDistinct("gram").as("n_contaminated_grams"),
        countDistinct("bench_id").as("n_bench_docs"))
  }

  /** zlib COMPRESSION-RATIO quality signal (compressed/raw bytes): the
    * classic cheap repetitiveness detector — spam and template churn
    * compress far below prose (ratios ≲0.3 at prose lengths are a red
    * flag), and it catches long-range repetition that n-gram fractions
    * miss. FULLY hash-oracled (q70): the JVM Deflater and CPython zlib
    * emit byte-identical level-6 streams (both wrap zlib with default
    * strategy/memLevel), so a Python fixture keyed by md5(text) carries
    * the exact compressed length. Per-row pure function: map-only at any
    * scale.
    */
  def compressionRatio(docs: DataFrame, textCol: String = "text",
      level: Int = 6): DataFrame = {
    val ratioUdf = udf { (text: String) =>
      if (text == null || text.isEmpty) 1.0
      else {
        val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(level, false)
        d.setInput(raw); d.finish()
        // deflate worst case ≈ raw + 5 B per 16 KiB block + 6 B header
        val buf = new Array[Byte](raw.length + raw.length / 16000 * 5 + 64)
        var n = 0
        while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
        d.end()
        n.toDouble / raw.length
      }
    }
    docs.withColumn("compression_ratio", ratioUdf(col(textCol)))
  }

  /** Duplicated-SPAN statistics (the analysis half of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): document
    * dedup misses partially-copied text — a page that quotes half of
    * another page survives doc-level dedup but still double-counts those
    * spans in training. Spans are tracked as winnowing fingerprints
    * ([[fingerprints]]); a span is SHARED when its fingerprint appears in
    * ≥2 distinct documents. Output per doc: total spans, shared spans, and
    * the shared fraction (exact-integer division) — the signal a pipeline
    * thresholds to route docs into span-level rewriting.
    *
    * Shape: explode → distinct-count per fingerprint (map-side combined) →
    * equi-join back → per-doc agg. The fingerprint df table is tiny
    * relative to the corpus (winnowing keeps ~2/(guarantee) of positions),
    * broadcast-able at scale.
    */
  def dupSpanStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // one winnowing pass: the skinny (doc_id, fingerprint) table feeds both
    // the spread aggregation and the join-back (the q88 dropDupSpans
    // pattern) — without the checkpoint the rolling-hash UDF re-runs over
    // the corpus for each consumer
    val fps = fingerprints(docs, textCol).localCheckpoint(false)
    val spread = fps.groupBy("fingerprint")
      .agg(countDistinct("doc_id").as("ndocs"))
    fps.join(spread, "fingerprint")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_fp"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared_fp"))
      .withColumn("shared_frac",
        col("n_shared_fp").cast("double") / col("n_fp").cast("double"))
  }

  /** Duplicated-SPAN REMOVAL — the action half of Lee et al. 2022 (q63's
    * [[dupSpanStats]] is the analysis half): rewrite each document by
    * EXCISING the spans whose winnowing fingerprints appear in >= 2
    * distinct documents, keeping per-doc removal counts for the audit
    * table. A span is the char window its selected fingerprint hashes
    * ([[winnowPositions]] maps fingerprints back to positions);
    * overlapping windows merge into maximal ranges before excision, so
    * a long copied passage comes out as one cut, not a comb.
    *
    * Shape at 10^12 docs: each document is rolling-hashed + winnowed
    * exactly ONCE — the (doc_id, pos, fingerprint) table materializes via
    * localCheckpoint (the q38/q39 lineage pattern) and feeds BOTH the
    * spread aggregation and the join-back, and the rewrite UDF receives
    * the doc's shared POSITIONS directly instead of re-hashing the text.
    * The shared-fingerprint table is winnow-sparse (~1/guarantee of
    * positions) and `>= 2` keeps only the shared tail — broadcast-able;
    * the join back is fingerprint-keyed. No driver-side loop, no
    * all-pairs anything.
    */
  def dropDupSpans(docs: DataFrame, textCol: String = "text",
      window: Int = 16, guarantee: Int = 8): DataFrame = {
    val w = window
    val g = guarantee
    val posUdf = udf { (text: String) =>
      if (text == null) Array.empty[(Int, Long)]
      else winnowPositions(rollingHashes(text, w), g)
    }
    val posFps = docs
      .select(col("doc_id"), explode(posUdf(col(textCol))).as("pf"))
      .select(col("doc_id"), col("pf._1").as("pos"), col("pf._2").as("fingerprint"))
      .localCheckpoint()
    val shared = posFps.select("doc_id", "fingerprint").distinct()
      .groupBy("fingerprint").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select("fingerprint")
    val sharedPosPerDoc = posFps.join(shared, "fingerprint")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("shared_pos"))
    val removeUdf = udf { (text: String, sharedPos: Seq[Int]) =>
      if (text == null) ("", 0, 0)
      else if (sharedPos.isEmpty) (text, 0, 0)
      else {
        val len = text.length
        val ranges: Array[(Int, Int)] = sharedPos.iterator
          .map(p => (p, math.min(p + w, len)))
          .toArray.sortBy(_._1)
        locally {
          val sb = new java.lang.StringBuilder(len)
          var nRanges = 0
          var removed = 0
          var cur = 0 // next char not yet emitted
          var re = -1 // current merged range end (-1: none open)
          var rs = 0
          var i = 0
          while (i < ranges.length) {
            val (s, e) = ranges(i)
            if (re < 0) { rs = s; re = e }
            else if (s <= re) { if (e > re) re = e } // overlap/adjacent: extend
            else {
              sb.append(text, cur, rs); cur = re
              nRanges += 1; removed += re - rs
              rs = s; re = e
            }
            i += 1
          }
          sb.append(text, cur, rs)
          nRanges += 1; removed += re - rs
          sb.append(text, re, len)
          (sb.toString, nRanges, removed)
        }
      }
    }
    docs.join(sharedPosPerDoc, Seq("doc_id"), "left")
      .withColumn("x", removeUdf(col(textCol),
        coalesce(col("shared_pos"), array().cast("array<int>"))))
      .select(col("doc_id"), col("x._1").as("clean_text"),
        col("x._2").cast("long").as("n_spans_removed"),
        col("x._3").cast("long").as("n_chars_removed"))
  }

  /** Document CHUNKING — sliding token windows (chunk size + stride),
    * the long-document splitter every pretraining / retrieval pipeline
    * runs between cleaning and tokenization: chunk k covers tokens
    * [k·stride, k·stride + chunkTokens); the last chunk may be short;
    * empty docs emit nothing. Pure Column end to end (split + sequence +
    * slice inside codegen) — map-only, no UDF, embarrassingly parallel.
    * Tokens are the nonempty space-split words (the q85/q10 convention,
    * so the oracle's `string_split` agrees exactly).
    *
    * CONVENTION NOTE: when `chunkTokens > stride`, trailing chunks near
    * the end of a document can be fully contained in the previous chunk
    * (n=7, chunk=8, stride=3 emits 3 chunks, two wholly redundant) — the
    * emission rule is intentionally "one chunk per stride start < n" and
    * the q96 oracle mirrors it; dedup-sensitive consumers should drop
    * chunks whose start+chunkTokens span is subsumed by the predecessor.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 128, stride: Int = 96,
      textCol: String = "text"): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, "chunkTokens and stride must be >= 1")
    val toks = spaceTokens(textCol)
    docs
      .select(col("doc_id"), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col("doc_id"), col("__toks"),
        explode(expr(s"sequence(0, cast(floor((__n - 1) / $stride) as int))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"array_join(slice(__toks, chunk_idx * $stride + 1, $chunkTokens), ' ')")
          .as("chunk_text"),
        expr(s"cast(size(slice(__toks, chunk_idx * $stride + 1, $chunkTokens)) as bigint)")
          .as("n_tokens"))
  }

  /** Corpus-TYPICALITY score: mean document frequency of a doc's tokens —
    * the cheap distribution-fit quality signal (OCR garbage, codes, and
    * boilerplate-free spam score LOW because their tokens appear in few
    * other documents; navigational boilerplate scores suspiciously HIGH).
    * Complements [[qualityScore]]'s intra-doc ratios with an inter-doc
    * signal, and unlike an n-gram LM it needs no float log-probs — exact
    * integer counts and one final division, so it hash-gates.
    *
    * Shape: occurrences PRE-AGGREGATE to (doc_id, tok, cnt) before anything
    * shuffles on the token key (map-side combined — a stopword occurring
    * 10^9 times costs one row per map partition, not 10^9 Zipf-skewed
    * shuffle rows); the df table derives from the distinct per-doc tokens
    * (count(*) over the pre-agg ≡ countDistinct(doc_id) over occurrences),
    * and the weighted mean sum(df*cnt)/sum(cnt) reproduces the
    * occurrence-level integers exactly. The pre-agg is materialized once
    * (lazy localCheckpoint) so the df aggregation and the join-back share
    * one tokenization pass; df is vocabulary-sized, broadcast-able.
    */
  def typicality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // empty tokens (from whitespace runs) would mint a "" vocab entry whose
    // df drags every such doc's mean up — filter like the sibling ops
    val occ = docs.select(col("doc_id"),
      explode(spaceTokens(textCol)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val dfTab = occ.groupBy("tok").agg(count(lit(1)).as("df"))
    occ.join(dfTab, "tok")
      .groupBy("doc_id").agg(
        sum("cnt").as("n_tok"),
        sum(col("df") * col("cnt")).as("sum_df"))
      .withColumn("typicality",
        col("sum_df").cast("double") / col("n_tok").cast("double"))
  }

  /** Deterministic STRATIFIED SAMPLING — the reproducible way to cut a
    * training mix from a 10^12-doc corpus: per-stratum keep-rates applied
    * by comparing a hex prefix of md5(key) against a per-stratum hex
    * threshold ("0a00" ≈ 3.9%, "8000" = 50%). No RNG, no seed plumbing:
    * the same document makes the same cut decision on every run, every
    * retry, every cluster size — which is what makes sampled pipelines
    * RESUMABLE (a re-run after partial failure reproduces the identical
    * sample, so committed output never disagrees with recomputed output).
    * Map-only, whole-stage codegen; the filter pushes to the scan boundary.
    *
    * `thresholds` maps stratum value → 4-hex-digit threshold, compared
    * INCLUSIVELY (`prefix <= threshold`), so the default "ffff" keeps
    * exactly 100% of unlisted strata (a strict `<` would silently drop the
    * ~1/65536 of documents whose hash prefix is "ffff" — ~15k ghosts at
    * 10^9 docs); the empty string keeps 0%.
    */
  def hashSample(docs: DataFrame, thresholds: Map[String, String],
      defaultThreshold: String = "ffff", stratumCol: String = "lang",
      keyCol: String = "doc_id", salt: String = "graft"): DataFrame = {
    val key = md5(encode(
      concat(col(keyCol).cast("string"), lit(":" + salt)), "UTF-8"))
    val thr = thresholds.foldLeft(lit(defaultThreshold)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs.filter(substring(key, 1, 4) <= thr)
  }

  /** Gopher-style REPETITION signals (Rae et al. 2021, table A1): the
    * quality filters that catch boilerplate/spam which per-token stats
    * miss. Per document:
    *
    *   - `top2_chars` — characters covered by the single most-covering
    *     word bigram (count × gram length); `top2gram_frac` = that /
    *     total chars. Boilerplate pages repeat one phrase.
    *   - `dup3_chars` — characters covered by ALL word trigrams occurring
    *     ≥2 times; `dup3gram_frac` likewise.
    *   - `rep_pass` — the Gopher-ish gate (≤0.20 / ≤0.18).
    *
    * Shape at scale: grams are built as array columns in ONE projection
    * (no window, no per-doc sort), exploded once, then hash-aggregated
    * twice — (doc_id, n, gram) → (doc_id). Both aggs are partial
    * (map-side combined), so the shuffle carries distinct grams per
    * partition, not occurrences; the final join back to `docs` is on
    * doc_id. Every ratio is an exact-integer division so the DuckDB
    * oracle reproduces the IEEE doubles bit-for-bit.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
      maxTop2Frac: Double = 0.20, maxDup3Frac: Double = 0.18): DataFrame = {
    val grams = docs
      .select(col("doc_id"),
        spaceTokens(textCol).as("toks"))
      .select(col("doc_id"), explode(concat(
        when(size(col("toks")) >= 2,
          expr("transform(sequence(0, size(toks) - 2), " +
            "i -> named_struct('n', 2, 'gram', concat(toks[i], ' ', toks[i+1])))"))
          .otherwise(expr("array()")),
        when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), " +
            "i -> named_struct('n', 3, 'gram', concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])))"))
          .otherwise(expr("array()")))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        max(when(col("n") === 2, col("cnt") * length(col("gram"))))
          .cast("long").as("top2_chars"),
        coalesce(sum(when(col("n") === 3 && col("cnt") >= 2,
          col("cnt") * length(col("gram")))), lit(0L))
          .cast("long").as("dup3_chars"))
    docs.select(col("doc_id"), length(col(textCol)).cast("long").as("n_chars"))
      .join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("top2_chars"), lit(0L)).as("top2_chars"),
        coalesce(col("dup3_chars"), lit(0L)).as("dup3_chars"))
      .withColumn("top2gram_frac",
        when(col("n_chars") > 0,
          col("top2_chars").cast("double") / col("n_chars").cast("double"))
          .otherwise(0.0))
      .withColumn("dup3gram_frac",
        when(col("n_chars") > 0,
          col("dup3_chars").cast("double") / col("n_chars").cast("double"))
          .otherwise(0.0))
      .withColumn("rep_pass",
        col("top2gram_frac") <= maxTop2Frac && col("dup3gram_frac") <= maxDup3Frac)
  }

  /** CCNet-style corpus-wide LINE dedup (Wenzek et al. 2020 §3.1: drop
    * duplicated lines/paragraphs across the whole crawl before document
    * dedup — removes navigation chrome, cookie banners, boilerplate
    * headers that repeat on every page of a site). Lines here are
    * deterministic `lineTokens`-word chunks of the whitespace token
    * stream (the sf tables carry no newlines; over real extracted text
    * pass structuredText and split on '\n' upstream).
    *
    * Keep rule: a line survives iff it is the FIRST occurrence corpus-wide
    * (order = (doc_id, line_idx)). Implemented as a min-STRUCT hash
    * aggregate per line + an equi-join back — NOT a window over the line
    * key: partial aggregation collapses each line to one row per map
    * partition before the shuffle, so a line duplicated a million times
    * (the exact pathology this op targets) costs one shuffle row per
    * partition instead of a million-row sorted window partition.
    *
    * Output per doc: n_lines, n_kept, cleaned_text (kept lines re-joined
    * in order; '' when everything was boilerplate).
    */
  def lineDedup(docs: DataFrame, lineTokens: Int = 10,
      textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        spaceTokens(textCol).as("toks"))
      .select(col("doc_id"), posexplode(
        when(size(col("toks")) > 0,
          expr(s"transform(sequence(0, size(toks) - 1, $lineTokens), " +
            s"i -> array_join(slice(toks, i + 1, $lineTokens), ' '))"))
          .otherwise(expr("array()"))))
      .withColumnRenamed("pos", "line_idx")
      .withColumnRenamed("col", "line")
    dedupLineTable(docs.select(col("doc_id")), lines, " ")
  }

  /** [[lineDedup]] over REAL newline-separated lines — the form that runs
    * on extracted `structuredText` (whose '\n' boundaries are the block
    * structure the kernel emitted): repeated nav items, footers and cookie
    * banners are exactly the lines that recur corpus-wide, so
    * first-occurrence line dedup IS boilerplate removal driven by evidence
    * instead of per-page heuristics (the corpus-level complement to the
    * kernel's per-page Boilerplate pass).
    */
  def lineDedupNewline(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "line_idx")
      .withColumnRenamed("col", "line")
    dedupLineTable(docs.select(col("doc_id")), lines, "\n")
  }

  /** Shared keep-first-occurrence core over a (doc_id, line_idx, line)
    * table — min-STRUCT agg + join-back; see [[lineDedup]] for why not a
    * window.
    */
  private def dedupLineTable(docIds: DataFrame, lines: DataFrame,
      joiner: String): DataFrame = {
    val firsts = lines
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("first"))
    val kept = lines.join(firsts, "line")
      .withColumn("keep",
        col("doc_id") === col("first.doc_id") &&
          col("line_idx") === col("first.line_idx"))
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(array_sort(collect_list(
        when(col("keep"), struct(col("line_idx"), col("line"))))),
        s => s("line")), joiner).as("cleaned_text"))
    docIds
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }
}
