package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline assembly operators: deterministic train/val/test
  * splits, per-source mixture sampling, train-test decontamination, and
  * GPT-style concat-and-chunk sequence packing. All derive their randomness
  * from [[Dedup.hash64]] (md5 base + splitmix64), so every assignment is
  * reproducible run-over-run, independent of partitioning, and exactly
  * mirrorable in the DuckDB oracle via [[HashSql]].
  *
  * Scale notes (10^12 docs): split/sample/quality are single narrow
  * passes; [[decontaminate]] broadcasts the benchmark side and shuffles
  * only the matched (contaminated) gram rows into its per-doc count; the
  * only sort in the module is [[packChunks]]' per-bucket window, bounded
  * by the bucket count, never global.
  */
object Pipeline {

  /** Unsigned remainder as both JVM and oracle compute it: the signed hash
    * reinterpreted as u64, mod m. */
  private[engine] def bucketOf(h: Long, m: Long): Long =
    java.lang.Long.remainderUnsigned(h, m)

  /** Deterministic train/val/test split: each doc hashes (with a salt) into
    * one of 10,000 buckets; cumulative weight boundaries assign the split.
    * Content-independent (id-keyed) so re-runs and backfills agree; salted
    * so a new salt redraws the assignment. Pure codegen Column tree over the
    * native [[graft.engine.expressions.Hash64]] expression — narrow, fully
    * pruned, no shuffle at any scale. Output: (doc_id, bucket, split). */
  def splitAssign(
      docs: DataFrame, idCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02),
      salt: Int = 0): DataFrame =
    withSplit(docs.select(col(idCol).cast(LongType).as("doc_id")), "doc_id",
      weights, salt)

  /** Adds `(bucket, split)` columns to any frame carrying `idCol` — the
    * projection core of [[splitAssign]], reusable mid-pipeline without a
    * re-join (the bucket hash is materialized once; the split CASE chain
    * reads the attribute, never re-hashing per branch). */
  def withSplit(
      docs: DataFrame, idCol: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02),
      salt: Int = 0): DataFrame = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 10000)
    }.tail.zip(weights.map(_._1)) // (upperBoundExclusive, name)
    val b = expressions.Hash64Functions.hashBucketCol(
      concat(lit("split:"), col(idCol).cast(LongType).cast(StringType)), salt, 10000)
    val split = bounds.init.foldLeft(Option.empty[Column]) {
      case (acc, (ub, name)) =>
        Some(acc.fold(when(col("bucket") < ub, name))(_.when(col("bucket") < ub, name)))
    }.fold(lit(bounds.last._2))(_.otherwise(bounds.last._2))
    docs.withColumn("bucket", b).withColumn("split", split)
  }

  /** The oracle-side CASE mirroring [[splitAssign]]'s bucket→name mapping. */
  def splitCaseSql(bucketExpr: String,
      weights: Seq[(String, Double)] = Seq("train" -> 0.96, "val" -> 0.02, "test" -> 0.02)): String = {
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * 10000)
    }.tail.zip(weights.map(_._1))
    bounds.init.map { case (ub, name) => s"WHEN $bucketExpr < $ub THEN '$name'" }
      .mkString("CASE ", " ", s" ELSE '${bounds.last._2}' END")
  }

  /** Deterministic mixture sampling: keep a doc iff its salted hash bucket
    * (out of 1e6) falls under its source's sampling rate — the standard way
    * to hit a target corpus mixture (e.g. up-weight books, down-weight web)
    * reproducibly. Sources absent from `rates` use `defaultRate`. Narrow
    * projection; rates travel as a literal CASE chain (codegen), not a join. */
  def mixtureSample(
      docs: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], defaultRate: Double = 1.0,
      salt: Int = 0): DataFrame = {
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, r).otherwise(acc)
    }
    val mixb = expressions.Hash64Functions.hashBucketCol(
      concat(lit("mix:"), col(idCol).cast(LongType).cast(StringType)), salt, 1000000)
    // pure codegen'd filter predicate: the sampler adds no projection, no
    // typed map, no join — the scan's pushed filters and column pruning
    // survive untouched
    docs.where(mixb < (rateCol * 1000000.0).cast(LongType))
  }

  /** RefinedWeb-style per-source cap: keep at most `maxPerSource` docs per
    * source (domain), preferring `orderCol` DESCENDING with ascending id as
    * the deterministic tiebreak, and emit the kept rows with their in-source
    * rank (`src_rank`, 1-based). Exact per-key top-k WITHOUT a per-source
    * window over raw rows: phase 1 ranks inside (source, id-hash salt)
    * sub-partitions — each holding ~1/`salts` of its source — and keeps the
    * local top `maxPerSource`; phase 2 re-ranks only the ≤ salts·maxPerSource
    * survivors per source. Exactness: a row dropped in phase 1 has ≥
    * maxPerSource surviving rows ordered above it in its OWN sub-partition,
    * so (a) it cannot be in the global top k and (b) every kept row's
    * survivor rank equals its global rank — a kept row with a dropped row
    * above it would inherit that row's ≥ maxPerSource better survivors and
    * rank past k itself (spec-differentialed against the single-window
    * form). The giant-domain skew case (one host = half the corpus) thus
    * costs only bounded windows — the packChunks two-phase discipline
    * applied to per-key top-k. */
  def capPerSource(docs: DataFrame, idCol: String, sourceCol: String,
      orderCol: String, maxPerSource: Int, salts: Int = 64): DataFrame = {
    require(maxPerSource > 0, "maxPerSource must be positive")
    require(salts > 0, "salts must be positive")
    val ord = Seq(col(orderCol).desc, col(idCol).asc)
    val saltCol = expressions.Hash64Functions.hashBucketCol(
      concat(lit("cap:"), col(idCol).cast(LongType).cast(StringType)), 0, salts)
    val w1 = Window.partitionBy(col(sourceCol), col("_cap_salt")).orderBy(ord: _*)
    val w2 = Window.partitionBy(col(sourceCol)).orderBy(ord: _*)
    docs.withColumn("_cap_salt", saltCol)
      .withColumn("_cap_r1", row_number().over(w1))
      .where(col("_cap_r1") <= maxPerSource)
      .drop("_cap_salt", "_cap_r1")
      .withColumn("src_rank", row_number().over(w2).cast(LongType))
      .where(col("src_rank") <= maxPerSource)
  }

  /** Train-test decontamination: word n-gram overlap between the corpus and
    * a (small) benchmark set — the standard "is the eval set leaking into
    * training data" check. Both sides normalize (lower, collapsed
    * whitespace), shingle with [[Dedup.shinglesOf]] (whole-doc gram when
    * shorter than n), hash the grams, and the corpus joins the DISTINCT
    * benchmark gram set. The benchmark side is broadcast — at 10^12 corpus
    * docs the benchmark (eval suites, ~10^5 docs) is always the small side;
    * the corpus side stays a narrow scan + broadcast-hash-join, no shuffle.
    * Output per contaminated doc: (doc_id, n_grams, hits, contaminated).
    *
    * `bloomFpp > 0` turns on a **Bloom prefilter** — the semi-join-reduction
    * move for when the benchmark gram set is too big to broadcast as a hash
    * relation (`broadcastBenchmark = false` ⇒ the join otherwise shuffles
    * EVERY corpus gram row, ~n_grams × corpus docs): a compact Bloom filter
    * over the benchmark gram hashes (built distributed via
    * `stat.bloomFilter`, ~1.2 bytes/gram at 3% fpp vs ~16+ bytes/entry for
    * a hash relation) is embedded as a literal, and
    * `might_contain(bloom, g)` drops non-candidate gram rows INSIDE the
    * corpus-side scan stage, before any exchange. Only probable hits are
    * shuffled; false positives die in the exact join that still follows, so
    * the result is bit-identical to the exact path — same oracle. */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minHits: Int = 1, broadcastBenchmark: Boolean = true,
      bloomFpp: Double = 0.0): DataFrame = {
    require(bloomFpp < 1.0, "bloomFpp must be < 1 (0 disables the prefilter)")
    val grams = gramFrame(corpus, idCol, textCol, n)
    val benchGrams0 = gramFrame(benchmark, idCol, textCol, n)
      .select(explode(col("grams")).as("g")).distinct()
    // the bloom build is a second pass over the benchmark grams → keep them
    val benchGrams =
      if (bloomFpp > 0) benchGrams0.persistTracked() else benchGrams0
    // eval suites are ~10^5 docs → broadcast by default; a caller checking
    // against a benchmark too big for executor memory opts into the
    // shuffle-hash join instead of OOMing the broadcast
    val benchSide = if (broadcastBenchmark) broadcast(benchGrams) else benchGrams
    val corpusGrams = grams.select(col("id").as("doc_id"),
      size(col("grams")).as("n_grams"), explode(col("grams")).as("g"))
    val prefiltered = if (bloomFpp <= 0) corpusGrams else {
      val items = math.max(benchGrams.count(), 1L)
      val bf = benchGrams.stat.bloomFilter("g", items, bloomFpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      corpusGrams.where(expressions.Hash64Functions.bloomMightContainCol(
        bos.toByteArray, col("g")))
    }
    prefiltered
      .join(benchSide, Seq("g"))
      .groupBy("doc_id", "n_grams").agg(count(lit(1)).as("hits"))
      .where(col("hits") >= minHits)
      .withColumn("contaminated", lit(true))
  }

  /** FUZZY train-test decontamination: corpus docs that are NEAR-duplicates
    * of a benchmark doc (exact word-shingle Jaccard ≥ `threshold`), which
    * [[decontaminate]]'s exact-n-gram hit counting misses once the leaked
    * copy has been lightly edited (the common contamination mode — scraped
    * eval sets with reflowed whitespace, added boilerplate, paraphrased
    * prompts).
    *
    * Scale shape: the benchmark side is indexed with the skew-capped
    * [[Dedup.minhashIndex]] (band, bucket, bench_id, shingles) and — being
    * the eval-suite side, ~10^5 docs — broadcast by default, so the corpus
    * side is ONE narrow signature projection probed map-side: band keys
    * join the broadcast index, candidates are exact-Jaccard-verified in the
    * same stage, and only VERIFIED hits (a vanishing fraction of the
    * corpus) reach the single per-doc aggregate shuffle. A pair meeting in
    * several bands yields duplicate candidate rows with identical Jaccard;
    * the max-aggregate absorbs them and `n_bench` counts distinct benchmark
    * matches, so no pre-dedup pass is needed. `broadcastBenchmark = false`
    * falls back to a (band, bucket) shuffle join for benchmark sets too big
    * for executor memory.
    *
    * Output per contaminated doc: (doc_id, bench_id, jaccard, n_bench) —
    * the best-matching benchmark doc (highest Jaccard, ties → smallest
    * bench_id), its match score, and how many benchmark docs matched. */
  def fuzzyDecontam(
      corpus: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
      k: Int = 3, h: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64,
      broadcastBenchmark: Boolean = true): DataFrame = {
    require(h % bands == 0, "bands must divide the signature length")
    val benchIndex = Dedup.minhashIndex(benchmark, idCol, textCol, k, h, bands, maxBucket)
      .select(col("band"), col("bucket"),
        col("id").as("bench_id"), col("shingles").as("sh_b"))
    val benchSide = if (broadcastBenchmark) broadcast(benchIndex) else benchIndex
    val probes = Dedup.signatureFrame(corpus, idCol, textCol, k, h, bands)
      .select(col("id").as("doc_id"), col("shingles").as("sh_a"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    probes.join(benchSide, Seq("band", "bucket"))
      .withColumn("jaccard", Dedup.setJaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .groupBy("doc_id")
      .agg(
        max(struct(col("jaccard").as("j"), (-col("bench_id")).as("nb"))).as("_best"),
        countDistinct(col("bench_id")).as("n_bench"))
      .select(col("doc_id"), (-col("_best.nb")).as("bench_id"),
        round(col("_best.j"), 6).as("jaccard"), col("n_bench"))
  }

  /** (id, grams: array<long>) — distinct hashed word n-grams per doc. */
  private def gramFrame(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val grams = Dedup.kernel("word_grams", udf((t: String) =>
      Dedup.shinglesOf(TextOps.normalize(t), n).map(Dedup.hash64(_, 7))))
    docs.select(col(idCol).cast(LongType).as("id"),
      grams(coalesce(col(textCol), lit(""))).as("grams"))
  }

  /** GPT-style concat-and-chunk sequence packing: documents are laid out in
    * a deterministic global order (hash-bucket major, hash minor), token
    * counts accumulate, and every doc learns which fixed-`budget` training
    * sequences it lands in. The global exclusive prefix-sum is computed in
    * TWO PHASES — per-bucket partial sums (a `buckets`-row aggregate) are
    * turned into bucket offsets on the driver and joined back broadcast, and
    * the within-bucket running sum is a window partitioned BY BUCKET — so no
    * stage ever sorts or windows the full corpus on one partition, which is
    * what a naive `Window.orderBy` (global, single-partition) would do at
    * 10^12 docs. Output: (doc_id, toks, start_off, first_seq, last_seq,
    * n_seqs). */
  /** Bucket count for [[packChunks]] from an input-row estimate: one
    * window partition holds ~corpus/buckets rows, so the count must grow
    * with the input — a fixed 32 is a skew cliff at 10¹² docs (3·10¹⁰ rows
    * sorted in ONE window partition). Target ≤2M rows per bucket window,
    * floor 32 (sandbox scale resolves to exactly the old default), cap 1M
    * (the driver-side offset array stays trivially small). */
  private[engine] def autoBuckets(estRows: Long): Int =
    math.min(1000000L, math.max(32L, estRows / 2000000L)).toInt

  def packChunks(
      docs: DataFrame, idCol: String, textCol: String,
      budget: Long, buckets: Int = 0): DataFrame = {
    require(budget > 0 && buckets >= 0,
      "buckets must be positive, or 0 to derive from the input size")
    val spark = docs.sparkSession
    // buckets = 0 → derive from Catalyst plan stats so the per-bucket
    // window partition is bounded no matter the corpus size; an explicit
    // value is honored unchanged (the oracled queries pin it)
    val nBuckets =
      if (buckets > 0) buckets
      else {
        val stats = docs.queryExecution.optimizedPlan.stats
        val defaultSize = BigInt(
          docs.sparkSession.sessionState.conf.defaultSizeInBytes)
        val estRows = stats.rowCount.map(_.longValue).getOrElse {
          // typed/cached lineages without stats report defaultSizeInBytes
          // (Long.MaxValue): trusting it would jump autoBuckets to the 1M
          // cap on a tiny input — a 1M-row driver collect and a 1M-group
          // aggregate for a 100-row corpus. An implausible size estimate
          // (the sentinel or anything near it) falls back to a cheap
          // count() instead; plans with real scan stats never hit this.
          if (stats.sizeInBytes >= defaultSize) docs.count()
          else math.max(1L, (stats.sizeInBytes / 512).longValue)
        }
        autoBuckets(estRows)
      }
    val packKey = concat(lit("pack:"), col(idCol).cast(LongType).cast(StringType))
    // persist the slim layout frame (id, toks, bucket, h — ~32 B/row): both
    // phases read it, and without the cache phase 2 would rescan the full
    // text corpus and re-run the tokenizer regex a second time
    val base = docs.select(col(idCol).cast(LongType).as("doc_id"),
      TextOps.bpeTokenCount(coalesce(col(textCol), lit(""))).cast(LongType).as("toks"),
      expressions.Hash64Functions.hashBucketCol(packKey, 0, nBuckets).as("bucket"),
      expressions.Hash64Functions.hash64Col(packKey, 0).as("h"))
      .persistTracked()
    // phase 1: per-bucket totals → exclusive bucket offsets (driver-side —
    // `buckets` rows, constant size regardless of corpus scale)
    val sums = base.groupBy("bucket").agg(sum("toks").as("btoks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets = (0L until nBuckets).scanLeft(0L) { case (acc, b) =>
      acc + sums.getOrElse(b, 0L)
    }.init.zipWithIndex.map { case (off, b) => (b.toLong, off) }
    val offDf = spark.createDataFrame(offsets).toDF("bucket", "bucket_off")
    // phase 2: within-bucket exclusive running sum — the window partitions
    // by bucket, so the sort is per-bucket, never global
    val w = Window.partitionBy("bucket").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offDf), Seq("bucket"))
      .withColumn("start_off", col("bucket_off") + coalesce(sum("toks").over(w), lit(0L)))
      // exact integer division — floor(double) would silently lose exactness
      // once cumulative token offsets pass 2^53
      .withColumn("first_seq", expr(s"start_off div $budget"))
      .withColumn("last_seq",
        expr(s"(start_off + greatest(toks, 1L) - 1) div $budget"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
      .select("doc_id", "toks", "start_off", "first_seq", "last_seq", "n_seqs")
  }

  /** Composite C4/Gopher-style quality filter: length bounds, character
    * ratios, language, and repetition thresholds fold into a keep/drop
    * verdict with the list of failed rules. ONE pass: a kernel column
    * computes the doc-local repetition signal beside the text, and the
    * ratio/language rules apply as codegen Column trees on
    * top ([[TextOps.qualityColumns]]) — no self-join back on id, which
    * would shuffle the whole corpus twice at scale. `reasons` is a
    * comma-joined string (concat_ws skips the NULLs of passing rules) — no
    * higher-order array functions, so the verdict stays codegen'd.
    * Output: (doc_id, tokens, reasons, keep). */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    qualityVerdictsWithText(docs, idCol, textCol)
      .select("doc_id", "tokens", "reasons", "keep")

  /** [[qualityFilter]] with the text column passed through — lets a
    * downstream consumer ([[curate]]) filter on `keep` INLINE instead of
    * semi-joining the verdict frame back onto the corpus by id, which
    * would shuffle the full corpus at scale. */
  def qualityVerdictsWithText(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val topBigram = Dedup.kernel("top_bigram_frac", udf(TextOps.topBigramFrac _))
    val withRep = docs.select(col(idCol).cast(LongType).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .select(col("doc_id"), col("text"), topBigram(col("text")).as("top_bigram_frac"))
    // materialize every shared subexpression as its OWN projection column,
    // evaluated once: the naive formulation (each rule re-deriving
    // split/lower/length from text) leans on codegen subexpression
    // elimination, which measurably gives up on this combined projection
    // — 10× wall-clock (BASELINE.md round 4, shared-subexpression fusion).
    // Multiply-referenced non-cheap aliases also stop CollapseProject from
    // re-inlining them.
    val text = col("text")
    val shared = withRep.select(col("doc_id"), text, col("top_bigram_frac"),
      length(text).cast(DoubleType).as("len"),
      TextOps.tokenCount(text).as("tokens"),
      concat(lit(" "), lower(text), lit(" ")).as("padded"))
    val len = col("len")
    val toksD = col("tokens").cast(DoubleType)
    def classRatio(cls: String): Column =
      when(len === 0, 0.0)
        .otherwise((len - length(regexp_replace(text, cls, "")).cast(DoubleType)) / len)
    val base = shared.select(col("doc_id"), col("text"), col("tokens"),
      classRatio("[A-Za-z]").as("alpha_ratio"),
      classRatio("[0-9]").as("digit_ratio"),
      // punct/space ratios feed only the quality SCORE below — computed
      // here so downstream canonicalization ([[curate]] → keepBestScored)
      // reuses this pass instead of re-deriving four ratios from text
      classRatio("[.,;:!?'\"()\\[\\]-]").as("punct_ratio"),
      classRatio("[ ]").as("space_ratio"),
      when(toksD === 0, 0.0)
        .otherwise((len - (toksD - 1)) / toksD).as("mean_word_len"),
      TextOps.langIdFromPadded(col("padded")).as("lang_id"),
      col("top_bigram_frac"))
    val rules = Seq(
      "too_short" -> (col("tokens") < 10),
      "too_long" -> (col("tokens") > 100000),
      "low_alpha" -> (col("alpha_ratio") < 0.5),
      "high_digit" -> (col("digit_ratio") > 0.2),
      "word_len" -> (col("mean_word_len") < 2.0 || col("mean_word_len") > 12.0),
      "non_english" -> (col("lang_id") =!= "en"),
      "repetitive" -> (col("top_bigram_frac") > 0.2))
    val reasons = concat_ws(",", rules.map { case (name, cond) =>
      when(cond, name).otherwise(lit(null).cast(StringType))
    }: _*)
    // the same composite as TextOps.qualityColumns' quality_score, term for
    // term (operand order matters for float reproducibility), over the
    // ratios materialized above
    val score = greatest(lit(0.0), least(lit(1.0),
      col("alpha_ratio") * 0.6 + col("space_ratio") * 0.8 +
        (lit(1.0) - col("digit_ratio")) * 0.2 - col("punct_ratio") * 0.3))
    base
      .withColumn("reasons", reasons)
      .withColumn("keep", col("reasons") === "")
      .withColumn("score", score)
      .select("doc_id", "text", "tokens", "reasons", "keep", "score")
  }

  /** DSIR-style importance resampling (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every raw document
    * by how target-like its hashed-unigram distribution is, then accept
    * docs with a deterministic hash draw against the logistic of that
    * score. Features are whitespace unigrams hashed into `buckets` bins
    * (the hashed n-gram feature space of the paper); the bin-marginal
    * probabilities of the target and raw corpora are add-one smoothed, and
    * a doc's log importance weight is Σ_b c_db · [ln p̂_target(b) −
    * ln p̂_raw(b)] over its bin counts c_db.
    *
    * Scale shape: the bin tables are two partial-friendly count aggregates
    * down to `buckets` rows collected on the driver (bounded ≤ 2²⁰ —
    * constant-size regardless of corpus scale, the [[packChunks]] phase-1
    * move); the log-ratio table then rides back as a BROADCAST ARRAY into
    * one doc-local kernel column that tokenizes, bucket-counts and
    * folds Σ c·lr[b] per doc with ZERO shuffles — the per-doc weight never
    * needed a (id, bucket) exchange, the same "count locally, never
    * shuffle the grams" move as [[TextOps.repetitionSignals]] (measured
    * ~8× over the groupBy-join-groupBy formulation at 500k docs, which
    * shuffled the exploded token frame twice). The per-doc fold runs in
    * ascending bucket order, so the weight is bit-identical across runs
    * AND partitionings. The raw corpus is deliberately scanned twice
    * (marginals, then scoring) rather than persisting the token frame —
    * at 10¹² docs the token explode is re-computable scan work, while
    * caching it would spill a corpus-sized intermediate. Acceptance
    * randomness is the salted id-hash draw of [[mixtureSample]], so
    * re-runs agree exactly and the DuckDB oracle can replay every stage.
    * Docs with no tokens emit no row. Output: (doc_id, n_toks, logw,
    * selected). */
  def importanceResample(
      raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
      buckets: Int = 512, seed: Int = 13, salt: Int = 0): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 20),
      "the bucket-marginal table is collected driver-side; keep it small")
    val spark = raw.sparkSession
    def toks(df: DataFrame): DataFrame =
      df.select(col(idCol).cast(LongType).as("id"),
          explode(split(trim(regexp_replace(lower(coalesce(col(textCol), lit(""))),
            "\\s+", " ")), " ")).as("tok"))
        .where(col("tok") =!= "")
        .select(col("id"), expressions.Hash64Functions.hashBucketCol(
          concat(lit("dsir:"), col("tok")), seed, buckets).as("b"))
    // both marginals in one job: the side-tagged token frames union into
    // one grouped count, their scans side by side
    val (tRows, rRows) = toks(target).withColumn("t", lit(true))
      .unionByName(toks(raw).withColumn("t", lit(false)))
      .groupBy("t", "b").count()
      .collect().partition(_.getBoolean(0))
    def marginals(rows: Array[Row]): Map[Long, Long] =
      rows.map(r => r.getLong(1) -> r.getLong(2)).toMap
    val (tCounts, rCounts) = (marginals(tRows), marginals(rRows))
    val tTot = tCounts.values.sum.toDouble
    val rTot = rCounts.values.sum.toDouble
    val lrArr = Array.tabulate(buckets) { b =>
      math.log((tCounts.getOrElse(b.toLong, 0L) + 1.0) / (tTot + buckets)) -
        math.log((rCounts.getOrElse(b.toLong, 0L) + 1.0) / (rTot + buckets))
    }
    val bcLr = spark.sparkContext.broadcast(lrArr)
    // zero or one row per doc: the kernel yields None for a doc with no
    // tokens, and the null filter drops it
    val score = Dedup.kernel("dsir_score", udf { (id: Long, t: String) =>
      val tokens = TextOps.normTokens(t)
      if (tokens.isEmpty) None
      else {
        val lr = bcLr.value
        val counts = new java.util.TreeMap[Long, Long]() // ascending-bucket fold
        tokens.foreach { tok =>
          counts.merge(bucketOf(Dedup.hash64("dsir:" + tok, seed), buckets), 1L,
            java.lang.Long.sum)
        }
        var logw = 0.0
        counts.forEach((b, c) => logw += c * lr(b.toInt))
        val u = bucketOf(Dedup.hash64("dsir-sel:" + id, salt), 1000000L) / 1e6
        Some((tokens.length.toLong, logw, u < 1.0 / (1.0 + math.exp(-logw))))
      }
    })
    raw.select(col(idCol).cast(LongType).as("doc_id"),
        score(col(idCol).cast(LongType), coalesce(col(textCol), lit(""))).as("s"))
      .where(col("s").isNotNull)
      .select(col("doc_id"), col("s._1").as("n_toks"), col("s._2").as("logw"),
        col("s._3").as("selected"))
  }

  /** CCNet-style LM-perplexity quality scoring (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data" —
    * there a KenLM 5-gram; here a hashed-BIGRAM model, the same
    * bounded-feature move as [[importanceResample]]): train add-one-
    * smoothed bigram transition probabilities over hashed token buckets
    * from a reference ("good") corpus, then score every raw doc with its
    * per-bigram perplexity `exp(−mean ln p(b_i | b_{i−1}))`. Low
    * perplexity = reference-like text; boilerplate/spam with bigrams the
    * reference never produces scores high and is dropped.
    *
    * Scale shape: ONE partial-friendly count aggregate over the
    * reference's hashed bigram pairs (bounded ≤ buckets² ≤ 2²⁰ rows,
    * collected driver-side; context counts derive from it by summation),
    * then the ln-probability table broadcasts as a plain array into a
    * doc-local ZERO-SHUFFLE scoring kernel column — sequential in-doc
    * fold, bit-identical across runs and partitionings. Docs with < 2
    * tokens have no bigram evidence and emit no row.
    * Output: (doc_id, n_toks, ppl, keep) with keep = ppl ≤ keepBelow
    * compared on the unrounded value. */
  def lmPerplexity(
      raw: DataFrame, reference: DataFrame, idCol: String, textCol: String,
      buckets: Int = 128, seed: Int = 29, keepBelow: Double = 150.0): DataFrame = {
    require(buckets > 0 && buckets <= 1024,
      "the bigram table is buckets^2 driver-side cells; keep it small")
    val spark = raw.sparkSession
    // reference bigram counts: one kernel column of pair indices, exploded,
    // one partial-agg count down to <= buckets^2 rows, collected driver-side
    val pairs = Dedup.kernel("lm_pairs", udf { (t: String) =>
      val bs = lmBuckets(t, seed, buckets)
      Array.tabulate(math.max(0, bs.length - 1))(i => bs(i).toLong * buckets + bs(i + 1))
    })
    val c2 = reference
      .select(pairs(coalesce(col(textCol), lit(""))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = Array.fill(buckets)(0L) // context counts = sum of outgoing bigrams
    c2.foreach { case (p, c) => c1((p / buckets).toInt) += c }
    val lnP = Array.tabulate(buckets * buckets) { p =>
      math.log((c2.getOrElse(p.toLong, 0L) + 1.0) / (c1(p / buckets) + buckets))
    }
    val bcLnP = spark.sparkContext.broadcast(lnP)
    // zero or one row per doc: None for a doc with < 2 tokens
    val perplexity = Dedup.kernel("lm_perplexity", udf { (t: String) =>
      val bs = lmBuckets(t, seed, buckets)
      if (bs.length < 2) None
      else {
        val lp = bcLnP.value
        var s = 0.0
        var i = 1
        while (i < bs.length) { s += lp(bs(i - 1) * buckets + bs(i)); i += 1 }
        Some((bs.length.toLong, math.exp(-s / (bs.length - 1))))
      }
    })
    raw.select(col(idCol).cast(LongType).as("doc_id"),
        perplexity(coalesce(col(textCol), lit(""))).as("s"))
      .where(col("s").isNotNull)
      .select(col("doc_id"), col("s._1").as("n_toks"), col("s._2").as("ppl"),
        (col("s._2") <= keepBelow).as("keep"))
  }

  /** [[lmPerplexity]]'s hashed token buckets of a doc: `hash64("lm:" +
    * tok, seed) mod buckets` per normalized token — identical to the
    * HashSql mirror the oracle replays. */
  private def lmBuckets(t: String, seed: Int, nB: Int): Array[Int] =
    TextOps.normTokens(t).map(tok => bucketOf(Dedup.hash64("lm:" + tok, seed), nB).toInt)

  /** The artifacts of one [[curate]] run, all lazy. */
  final case class Curation(
      curated: DataFrame, // (doc_id, text, bucket, split) — kept + canonical
      packed: DataFrame, // train-split packing layout
      quality: DataFrame, // per-doc quality verdicts (audit)
      clusters: DataFrame) // keepBest canonicalization table (audit)

  /** The end-to-end corpus-curation chain of a training-data run: quality
    * filter → exact-dedup canonicalization (keep the best member per
    * cluster) → deterministic split assignment → concat-and-chunk packing
    * of the train split. On top of the member ops this adds exactly two
    * id-semi-joins (the quality keep-set and the canonical keep-set) —
    * split assignment is a projection ([[withSplit]]), not a join. */
  def curate(
      docs: DataFrame, idCol: String, textCol: String,
      budget: Long = 2048, buckets: Int = 32, salt: Int = 0): Curation = {
    val base = docs.select(col(idCol).cast(LongType).as("doc_id"),
      coalesce(col(textCol), lit("")).as("text"))
    // MATERIALIZE the full verdict frame ONCE (tracked MEMORY_AND_DISK —
    // the sandbox stand-in for writing the quality snapshot table): the
    // ~200-node rule pass is the chain's dominant cost (34 s of a 67 s
    // composed run at 5M docs, BASELINE.md round 5), and it feeds BOTH the
    // quality audit artifact and the kept corpus, so without this barrier a
    // multi-artifact consumer (CurateMain) executes it twice — and its
    // expression tree re-fuses into every downstream stage's whole-stage-
    // codegen class (filter, join, split, packing variants), generating
    // janino compiles of the same giant projection 5+ times per run.
    // Downstream stages compile against narrow cached columns instead,
    // and the keep filter reads a cached boolean rather than inlining the
    // rule tree into a fused predicate (the 22k-bytecode JIT-refused
    // method BASELINE.md round 5 documents).
    val verdicts = Caches.persistTracked(
      qualityVerdictsWithText(base, "doc_id", "text"))
    val quality = verdicts.select("doc_id", "tokens", "reasons", "keep")
    // inline filter over the cache — no verdict-to-corpus semi-join
    val kept = verdicts.where(col("keep")).select("doc_id", "text")
    // clusters and curated are ALSO inter-phase barriers: a multi-artifact
    // consumer (CurateMain writes clusters + curated + packed) would
    // otherwise re-run the keepBest window per artifact (clusters feeds its
    // own write AND the canonical semi-join) and the semi-join + split per
    // downstream (curated feeds its write AND the packing lineage). Both
    // caches are tracked and dropped by Caches.releaseAll().
    // keepBestScored reads the verdict pass's cached score — the composite
    // is computed once per doc for the whole chain (CurateSpec pins
    // clusters ≡ Dedup.keepBest over the same kept corpus).
    val clusters = Caches.persistTracked(Dedup.keepBestScored(
      verdicts.where(col("keep")).select(col("doc_id"),
        TextOps.fingerprint(coalesce(col("text"), lit(""))).as("f"),
        col("score"))))
    val canon = kept.join(
      clusters.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val curated = Caches.persistTracked(withSplit(canon, "doc_id", salt = salt))
    val packed = packChunks(
      curated.where(col("split") === "train"), "doc_id", "text", budget, buckets)
    Curation(curated, packed, quality, clusters)
  }
}
