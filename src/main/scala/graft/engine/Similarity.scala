package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a sign-random-projection LSH
  * bucketed variant as the scale path (candidates only within matching
  * buckets; at 10^12 rows brute force is a non-starter, buckets cut the
  * join fan-out by ~2^bits).
  *
  * All per-element numeric work runs as plain JVM loops: the per-vector
  * kernels (int8 quantization, SRP bucket, IVF cell, probe fan-out) are
  * [[Dedup.kernel]] columns and the pair scorer is the native
  * [[graft.engine.expressions.CosineSim6]]. Spark's higher-order functions
  * (`aggregate`/`zip_with`) are CodegenFallback — interpreted per element,
  * ~100× slower — the same lesson as [[Dedup]]'s minhash signature stage.
  */
object Similarity {

  /** Symmetric int8 quantization of an embedding column — the 4× storage
    * reduction step of a trillion-vector index. Per vector: `scale =
    * max(|x|)/127` (all-zero vectors → scale 0, zero codes), `code_i =
    * floor(x_i/scale + 0.5)` clamped to ±127 (explicit half-up rounding, so
    * the oracle mirrors the exact same arithmetic), plus the reconstruction
    * RMSE. One narrow kernel column. Output:
    * (vec_id, scale, codes: array<int>, rmse). */
  def quantizeInt8(
      embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val quantize = Dedup.kernel("quantize_int8", udf { (v: Array[Float]) =>
      var mx = 0.0
      v.foreach { x => val a = math.abs(x.toDouble); if (a > mx) mx = a }
      val scale = mx / 127.0
      val codes = new Array[Int](v.length)
      var se = 0.0
      var i = 0
      while (i < v.length) {
        val x = v(i).toDouble
        val q =
          if (scale == 0.0) 0
          else math.max(-127, math.min(127, math.floor(x / scale + 0.5).toInt))
        codes(i) = q
        val e = x - q * scale
        se += e * e
        i += 1
      }
      val rmse = if (v.isEmpty) 0.0 else math.sqrt(se / v.length)
      (scale, codes, rmse)
    })
    embeddings.select(col(idCol).cast(LongType).as("vec_id"),
        quantize(col(vecCol).cast("array<float>")).as("q"))
      .select(col("vec_id"), col("q._1").as("scale"), col("q._2").as("codes"),
        col("q._3").as("rmse"))
  }

  /** Exact top-k: for every query row, the k nearest non-query rows by
    * cosine. Queries are broadcast (small side); ranking is deterministic
    * (rounded sim desc, neighbor id asc). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("id_a"), col(vecCol).as("vec_a")))
    val c = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    rankTopK(scorePairs(
      c.crossJoin(q).where(col("id_b") =!= col("id_a"))
        .select("id_a", "id_b", "vec_a", "vec_b")), k)
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored
      .withColumnRenamed("id_a", "query_id").withColumnRenamed("id_b", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** Plain-loop cosine: the reference arithmetic of
    * [[graft.engine.expressions.CosineSim6]]. */
  def cosineArrays(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Score (…, vec_a, vec_b) pairs: every other column passes through and
    * `sim` is appended, rounded to 6dp (HALF_UP to match SQL ROUND, both
    * Spark's and DuckDB's) — so (id_a, id_b, vec_a, vec_b) scores to
    * (id_a, id_b, sim), and a streaming frame keeps its watermark column.
    * Runs as the native codegen expression
    * [[graft.engine.expressions.CosineSim6]] (bit-identical arithmetic to
    * [[cosineArrays]] + BigDecimal rounding): the earlier typed projection
    * paid an encoder round trip per candidate pair — two array copies, a
    * tuple allocation, and a Deserialize/Serialize pair in the plan —
    * measured ~3× the whole stage's task time on the bucketed-pair shapes. */
  private[graft] def scorePairs(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val kept = pairs.columns.filterNot(Set("vec_a", "vec_b")).map(col).toSeq
    pairs.select(kept :+
      column(expressions.CosineSim6(
        expression(col("vec_a").cast("array<float>")),
        expression(col("vec_b").cast("array<float>")))).as("sim"): _*)
  }

  /** Deterministic ±1 hyperplane components for sign-random-projection LSH:
    * `signs(j)(i)` is the i-th component of hyperplane j (splitmix-style
    * integer hash — no RNG state, so driver, executors, and the SQL-literal
    * oracle mirror all agree). */
  def srpSigns(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim) { (j, i) =>
      var z = j.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L +
        0x94D049BB133111EBL
      z ^= (z >>> 31); z *= 0xBF58476D1CE4E5B9L; z ^= (z >>> 27)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }

  /** The sign matrix as a DuckDB nested-list literal, so oracle SQL can
    * recompute buckets independently (`s[j][i]`, 1-based). Emitted as
    * integer ±1 so the mirror's fixed-point dot (see [[srpBucketOf]]) stays
    * in BIGINT arithmetic end to end. */
  def srpSignsSqlLiteral(bits: Int, dim: Int): String =
    srpSigns(bits, dim)
      .map(_.map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** Fixed-point scale for the SRP dot product: 2²⁰. A power of two, so
    * `x.toDouble * srpFixedScale` is EXACT for every float `x` (only the
    * exponent moves), and `floor` of it is a deterministic integer on any
    * engine. */
  private[graft] val srpFixedScale = 1048576.0

  /** Per-vector SRP bucket: bit j is set iff the FIXED-POINT dot
    * Σᵢ signⱼᵢ · ⌊vecᵢ · 2²⁰⌋ is > 0, summed in 64-bit integer arithmetic.
    *
    * Integer-exact by design, the same discipline as [[HashSql]]'s
    * md5+splitmix text hashes: a float dot's value near zero depends on
    * summation ORDER (the sequential Scala fold vs DuckDB's `list_sum`
    * disagreed on boundary vectors — the round-4 `q_embed_drift` hash
    * mismatch), while ⌊x·2²⁰⌋ is exact for float inputs and an integer sum
    * is order-free on every engine. Overflow headroom: |term| ≤ 2²⁰·|x|,
    * so even 10⁶-dim vectors with |x| ≤ 10³ stay < 2⁵⁰ — unreachable for
    * unit-scale embeddings. The caller manages the `signs` cache
    * ([[srpSignsFor]]). */
  private[engine] def srpBucketOf(
      signs: Array[Array[Double]], vec: Array[Float], bits: Int): Long = {
    val fixed = new Array[Long](vec.length)
    var i = 0
    while (i < vec.length) {
      fixed(i) = math.floor(vec(i).toDouble * srpFixedScale).toLong
      i += 1
    }
    var bucket = 0L
    var j = 0
    while (j < bits) {
      val row = signs(j)
      var dot = 0L
      i = 0
      while (i < vec.length) {
        dot += (if (row(i) > 0) fixed(i) else -fixed(i))
        i += 1
      }
      if (dot > 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  /** The thread's SRP sign matrix: built per `bits` and rebuilt when a
    * longer vector arrives (a wider matrix's rows extend the narrower's —
    * [[srpSigns]] is a pure function of (j, i)). */
  private val signsTl = new ThreadLocal[Array[Array[Double]]]

  private def srpSignsFor(bits: Int, dim: Int): Array[Array[Double]] = {
    val cached = signsTl.get()
    if (cached != null && cached.length == bits &&
        (bits == 0 || cached(0).length >= dim)) cached
    else {
      val signs = srpSigns(bits, dim)
      signsTl.set(signs)
      signs
    }
  }

  /** The SRP bucket of an `array<float>` column. */
  private[graft] def srpBucket(vec: Column, bits: Int): Column =
    Dedup.kernel("srp_bucket", udf { (v: Array[Float]) =>
      srpBucketOf(srpSignsFor(bits, v.length), v, bits)
    })(vec)

  /** (id, vec, bucket) over (id, vec), plus the `carry` columns kept
    * beside them (a stream's watermark column). */
  private[graft] def srpFrame(
      df: DataFrame, idCol: String, vecCol: String, bits: Int,
      carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).cast(LongType).as("id") +:
        col(vecCol).cast("array<float>").as("vec") +: carry.map(col): _*)
      .select(col("id") +: col("vec") +: srpBucket(col("vec"), bits).as("bucket") +:
        carry.map(col): _*)

  /** The materializable SRP index of an embedding snapshot: one
    * (bucket, id, vec) row per vector, with buckets above `maxBucket`
    * dropped — the embedding counterpart of [[Dedup.minhashIndex]], with
    * the same skew discipline (a degenerate bucket would make every probe
    * join O(bucket) rows). At scale this frame is WRITTEN once per
    * snapshot and probed by every ingestion batch/stream. */
  def embedIndex(
      corpus: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 6, maxBucket: Int = 100000): DataFrame = {
    Dedup.capBuckets(srpFrame(corpus, idCol, vecCol, bits), Seq("bucket"), maxBucket)
      .select("bucket", "id", "vec")
  }

  /** Persist an [[embedIndex]] as a BUCKETED, per-bucket-sorted table — the
    * embedding counterpart of [[Dedup.writeBucketedMinhashIndex]]. Probe
    * joins against `spark.table(name)` read pre-bucketed files: Catalyst
    * plans NO exchange and NO sort on the index side — only the (small)
    * incoming batch shuffles into the index's bucket layout
    * (`BucketedIndexSpec` pins the one-exchange plan). At snapshot scale
    * the index is written once and probed by every ingestion batch/stream
    * ([[graft.streaming.StreamingChecks.streamingEmbedDecontam]] takes this
    * table directly as its `staticIndex`), so the snapshot is never
    * re-SRP-bucketed per run. `numBuckets` spreads the 2^bits key space
    * across files; size it so a bucket file stays in the hundreds of MB. */
  def writeBucketedEmbedIndex(
      index: DataFrame, name: String, numBuckets: Int = 64): Unit =
    index.write.mode("overwrite")
      .bucketBy(numBuckets, "bucket")
      .sortBy("bucket")
      .format("parquet")
      .saveAsTable(name)

  /** LSH-bucketed ANN top-k: exact cosine, but only within the query's SRP
    * bucket. Trades recall for a ~2^bits candidate reduction. */
  def annTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = srpFrame(corpus, idCol, vecCol, bits)
      .select(col("id").as("id_b"), col("vec").as("vec_b"), col("bucket"))
    val q = broadcast(srpFrame(queries, idCol, vecCol, bits)
      .select(col("id").as("id_a"), col("vec").as("vec_a"), col("bucket")))
    rankTopK(scorePairs(
      c.join(q, "bucket").where(col("id_b") =!= col("id_a"))
        .select("id_a", "id_b", "vec_a", "vec_b")), k)
  }

  /** Embedding-cosine near-duplicate pairs (bucketed): pairs with
    * cosine ≥ threshold inside the same SRP bucket.
    *
    * Skew guard: one degenerate bucket (e.g. many near-zero or boilerplate
    * embeddings landing on the same side of every hyperplane) would make the
    * self-join O(bucket²); buckets above `maxBucket` rows are dropped by
    * the one LSH bucket stage, [[Dedup.bucketPairs]]. Observability via
    * [[srpSkewedBuckets]] — computed from the same srpFrame bucketing. */
  def cosineNearDups(
      corpus: DataFrame, threshold: Double, bits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame = {
    // the prune-agg input (srpFrame) is recomputed rather than cached — it
    // is a shuffle-free scan projection, which at corpus scale is far
    // cheaper than caching the whole corpus; the vector payload shuffles
    // once, in Dedup.bucketPairs
    val pairs = Dedup.bucketPairs(srpFrame(corpus, idCol, vecCol, bits),
        Seq("bucket"), maxBucket, Seq("vec"))
      .select("id_a", "id_b", "vec_a", "vec_b")
    scorePairs(pairs)
      .where(col("sim") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup verdict (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"): a
    * vector is DROPPED iff some smaller-id vector in its SRP bucket has
    * cosine ≥ `threshold` to it — the min-id representative of every
    * semantic group survives, including across chains (a~b, b~c drops both
    * b and c even when a!~c; the published method's "keep one per group of
    * mutually-similar points", made deterministic by id order). The
    * cluster structure is the SRP bucketing rather than trained k-means —
    * the deterministic, SQL-mirrorable scale path ([[cosineNearDups]]'s
    * cap discipline applies: vectors in skew-dropped buckets are never
    * dropped). One extra shuffle over the pair stage: the distinct dropped
    * set left-joins the id projection. Output: (vec_id, kept). */
  def semDedup(
      corpus: DataFrame, threshold: Double, bits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame = {
    val dropped = cosineNearDups(corpus, threshold, bits, idCol, vecCol, maxBucket)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("_d", lit(true))
    corpus.select(col(idCol).cast(LongType).as("vec_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("_d").isNull.as("kept"))
  }

  /** Embedding-space train-test decontamination: corpus vectors whose
    * cosine to some benchmark vector is ≥ `threshold` — the semantic
    * counterpart of [[graft.engine.Pipeline.fuzzyDecontam]] for leaks that
    * survive paraphrasing (token-level LSH misses a reworded eval doc; its
    * embedding doesn't move).
    *
    * Scale shape mirrors the fuzzy text path: the benchmark side (~10^5
    * eval vectors) is SRP-bucketed with the same skew cap as
    * [[cosineNearDups]] and broadcast; the corpus side is one narrow
    * bucketing projection probed map-side (bucket equi-join + exact cosine
    * in the same stage), so only verified hits reach the single per-vector
    * aggregate shuffle. A (corpus, benchmark) pair shares exactly ONE SRP
    * bucket — no duplicate candidates, so `n_bench` is a plain count.
    *
    * Output per contaminated vector: (vec_id, bench_id, sim, n_bench) —
    * best benchmark match (highest cosine, ties → smallest bench id), its
    * similarity, and the number of benchmark vectors at ≥ threshold. */
  def embedDecontam(
      corpus: DataFrame, benchmark: DataFrame, threshold: Double, bits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): DataFrame =
    embedDecontamIndexed(corpus,
      broadcast(embedIndex(benchmark, idCol, vecCol, bits, maxBucket)),
      threshold, bits, idCol, vecCol)

  /** [[embedDecontam]] against a PREBUILT benchmark index — the in-memory
    * [[embedIndex]] frame, or a [[writeBucketedEmbedIndex]] table loaded
    * with `spark.table(name)` (same (bucket, id, vec) contract). Broadcast
    * is the CALLER's choice: wrap the index in `broadcast(...)` when it
    * fits (the usual ~10^5-eval-vector benchmark); pass the bucketed table
    * bare for an index too large to broadcast — the equi-join then reads
    * the index in place with no index-side exchange, only the probe batch
    * shuffles into the bucket layout. The probe `bits` MUST match the bits
    * the index was built with. */
  def embedDecontamIndexed(
      corpus: DataFrame, benchIndex: DataFrame, threshold: Double,
      bits: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val benchSide = benchIndex
      .select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"))
    val probes = srpFrame(corpus, idCol, vecCol, bits)
      .select(col("id").as("id_a"), col("vec").as("vec_a"), col("bucket"))
    scorePairs(probes.join(benchSide, Seq("bucket"))
        .select("id_a", "id_b", "vec_a", "vec_b"))
      .where(col("sim") >= threshold)
      .groupBy(col("id_a"))
      .agg(
        max(struct(col("sim").as("s"), (-col("id_b")).as("nb"))).as("_best"),
        count(lit(1)).as("n_bench"))
      .select(col("id_a").as("vec_id"), (-col("_best.nb")).as("bench_id"),
        col("_best.s").as("sim"), col("n_bench"))
  }

  /** Embedding-DISTRIBUTION drift between two snapshots: SRP-bucket
    * occupancy histograms of `ref` vs `cur` — the embedding counterpart of
    * [[Checks.driftBins]]' value bins. An embedding-model regression or an
    * upstream distribution shift moves vectors across hyperplanes and shows
    * up as bucket-mass movement; feed the counts to [[Drift.psi]] (SRP
    * buckets are nominal, not ordinal — KS does not apply). Cost shape: two
    * narrow bucketing projections and two ≤2^bits-row partial-aggregable
    * counts — the vectors themselves never shuffle, at any corpus size.
    * Output: (bucket, ref_count, cur_count), absent side = 0. */
  def embedDriftBins(
      ref: DataFrame, cur: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      bits: Int = 6): DataFrame = {
    def counts(df: DataFrame, name: String) =
      srpFrame(df, idCol, vecCol, bits).groupBy("bucket")
        .agg(count(lit(1)).as(name))
    counts(ref, "ref_count")
      .join(counts(cur, "cur_count"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ref_count"), lit(0L)).as("ref_count"),
        coalesce(col("cur_count"), lit(0L)).as("cur_count"))
      .orderBy("bucket")
  }

  /** Count of SRP buckets above the [[cosineNearDups]] skew cap — derived
    * from the same srpFrame hashing that does the pruning, so the metric
    * describes the buckets actually dropped. */
  def srpSkewedBuckets(
      corpus: DataFrame, bits: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucket: Int = 100000): Long =
    Dedup.skewedCount(srpFrame(corpus, idCol, vecCol, bits), Seq("bucket"), maxBucket)

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the alternative scale path to SRP-LSH:
  // a k-means coarse quantizer partitions the corpus into nlist cells;
  // queries probe only their nProbe nearest cells, cutting the candidate
  // join fan-out by ~nlist/nProbe with much better recall control than a
  // single LSH table. Centroids are tiny (nlist × dim) and broadcast.
  // ------------------------------------------------------------------

  private def l2(a: Array[Float], c: Array[Double]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, c.length)
    while (i < n) { val x = a(i) - c(i); d += x * x; i += 1 }
    d
  }

  /** Deterministic driver-side Lloyd's k-means over a bounded sample (the
    * standard IVF training shape: the quantizer trains on a sample, never
    * the full corpus). Init = evenly spaced sample vectors by id order; no
    * RNG anywhere, so training is reproducible across runs and cluster
    * sizes. Empty cells keep their previous centroid.
    *
    * `sampleEvery` is the scale knob: the deterministic hash prefilter
    * keeps ~1/sampleEvery of the corpus BEFORE the orderBy+limit, so the
    * sort ranks only the sampled subset — never the full table. At 10^12
    * rows set sampleEvery ≈ corpusSize / (2·sampleN); the default 1 (no
    * prefilter) is only sensible at test scale. */
  def trainCentroids(
      corpus: DataFrame, nlist: Int, iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleEvery: Int = 1): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val prefiltered =
      if (sampleEvery <= 1) corpus
      else corpus.where(pmod(xxhash64(col(idCol)), lit(sampleEvery)) === 0)
    val sample = prefiltered.orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol).cast("array<float>")).as[Array[Float]].collect()
    require(sample.nonEmpty, "cannot train IVF centroids on an empty corpus")
    val k = math.min(nlist, sample.length)
    var cents = Array.tabulate(k)(j => sample(j * sample.length / k).map(_.toDouble))
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) { val d = l2(v, cents(j)); if (d < bestD) { bestD = d; best = j }; j += 1 }
        counts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < math.min(v.length, s.length)) { s(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k)(j =>
        if (counts(j) == 0) cents(j)
        else sums(j).map(_ / counts(j)))
    }
    cents
  }

  /** (id, vec, cell) assignment against broadcast centroids — one
    * kernel column, no shuffle. */
  private def cellFrame(
      df: DataFrame, idCol: String, vecCol: String,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]): DataFrame = {
    val cell = Dedup.kernel("ivf_cell", udf { (v: Array[Float]) =>
      val cents = bc.value
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < cents.length) {
        val d = l2(v, cents(j)); if (d < bestD) { bestD = d; best = j }; j += 1
      }
      best
    })
    df.select(col(idCol).cast(LongType).as("id"),
        col(vecCol).cast("array<float>").as("vec"))
      .select(col("id"), col("vec"), cell(col("vec")).as("cell"))
  }

  /** IVF top-k: corpus vectors live in their nearest-centroid cell; each
    * query probes its `nProbe` nearest cells and scores exact cosine only
    * against those cells' members. Corpus cells are disjoint, so no
    * candidate dedup is needed.
    *
    * Trains the quantizer AND assigns every corpus vector per call —
    * convenient for one-shot queries, but at scale (or in a bench's
    * steady state) use [[writeIvfIndex]] once + [[ivfTopKIndexed]] per
    * query batch: probing a persisted index reads only the probed cells
    * and skips retraining entirely. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nProbe: Int = 4, iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleEvery: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    val cents = trainCentroids(corpus, nlist, iters, sampleN, idCol, vecCol, sampleEvery)
    val bc = spark.sparkContext.broadcast(cents)
    val c = cellFrame(corpus, idCol, vecCol, bc)
      .select(col("id").as("id_b"), col("vec").as("vec_b"), col("cell"))
    probeCells(c, cents, queries, k, nProbe, idCol, vecCol)
  }

  /** A persisted IVF index: the trained centroids (tiny, driver-side) and
    * the corpus cell-assignment frame (id, vec, cell). */
  final case class IvfIndex(centroids: Array[Array[Double]], cells: DataFrame)

  /** Train the coarse quantizer ONCE and persist the index: centroids as a
    * (cell, centroid) parquet and the full cell assignment as a parquet
    * PARTITIONED BY cell — so a probe at `nProbe` of `nlist` cells reads
    * only nProbe/nlist of the data (partition pruning), and no query ever
    * pays the train+assign cost again. Deterministic: same corpus + params
    * ⇒ byte-identical centroids (no RNG in [[trainCentroids]]), so results
    * through the persisted index equal the in-line [[ivfTopK]].
    *
    * STALENESS: the index describes the snapshot it was built from. Retrain
    * when the corpus snapshot changes materially — new vectors can be
    * assigned incrementally against the FROZEN centroids (cells stay valid;
    * recall degrades only if the embedding distribution moves), but a
    * distribution shift (watch [[embedDriftBins]] PSI between snapshots)
    * shifts mass across cells and calls for a retrain + reassign. */
  def writeIvfIndex(
      corpus: DataFrame, path: String,
      nlist: Int = 16, iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleEvery: Int = 1): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = trainCentroids(corpus, nlist, iters, sampleN, idCol, vecCol, sampleEvery)
    cents.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val bc = spark.sparkContext.broadcast(cents)
    cellFrame(corpus, idCol, vecCol, bc)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Incrementally assign NEW vectors against a persisted index's FROZEN
    * centroids and APPEND them to its cell layout — the between-retrains
    * ingestion path of [[writeIvfIndex]]'s staleness note: new snapshot
    * batches join the index without retraining (cells stay valid; recall
    * degrades only if the embedding distribution moves — watch
    * [[embedDriftBins]]). One broadcast + one narrow projection + an
    * append write into the same partitioned layout; no shuffle. */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, vecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val idx = loadIvfIndex(spark, path)
    val bc = spark.sparkContext.broadcast(idx.centroids)
    cellFrame(vecs, idCol, vecCol, bc)
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Load a [[writeIvfIndex]] index. Centroids are ≤ nlist rows (driver-
    * bounded by construction); the cell frame is lazy. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    IvfIndex(cents,
      spark.read.parquet(s"$path/cells").select("id", "vec", "cell"))
  }

  /** [[ivfTopK]] against a persisted [[IvfIndex]]: no training, no corpus
    * assignment — just the probe join against the probed cells. The probed
    * cell set (≤ nlist values) is pushed down as an `isin` filter so the
    * partitioned cell layout prunes to nProbe/nlist of the files. */
  def ivfTopKIndexed(
      index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = index.cells
      .select(col("id").as("id_b"), col("vec").as("vec_b"), col("cell"))
    probeCells(c, index.centroids, queries, k, nProbe, idCol, vecCol,
      pruneCells = true)
  }

  /** Shared probe stage: queries fan out to their nProbe nearest cells
    * (broadcast), candidates score exact cosine, top-k ranked. With
    * `pruneCells` the distinct probed cells (a ≤ nlist driver-side set) are
    * pushed as a filter on the cell frame — partition pruning for persisted
    * indexes; pointless for the in-line path whose cells were just
    * computed. */
  private def probeCells(
      cellsFrame: DataFrame, cents: Array[Array[Double]], queries: DataFrame,
      k: Int, nProbe: Int, idCol: String, vecCol: String,
      pruneCells: Boolean = false): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(cents)
    // an exhaustive probe (nProbe covers every cell) cannot prune anything:
    // skip the query-assignment cache + probed-cell collect + isin filter
    // outright — three jobs whose only purpose is partition pruning
    val prune = pruneCells && nProbe < cents.length
    val nearest = Dedup.kernel("ivf_probe_cells", udf { (v: Array[Float]) =>
      val cs = bc.value
      cs.indices.map(j => (j, l2(v, cs(j)))).sortBy(_._2).take(nProbe).map(_._1).toArray
    })
    val q0 = queries
      .select(col(idCol).cast(LongType).as("id_a"),
        col(vecCol).cast("array<float>").as("vec_a"))
      .select(col("id_a"), col("vec_a"), nearest(col("vec_a")).as("cells"))
      .select(col("id_a"), col("vec_a"), explode(col("cells")).as("cell"))
    // under pruning the query assignment feeds TWO consumers (the probed-
    // cell collect and the join) — cache it so the fan-out kernel runs
    // once (tracked, released by the caller's Caches.releaseAll)
    val q = if (prune) q0.persistTracked() else q0
    val c =
      if (!prune) cellsFrame
      else {
        // bounded driver collect: at most nlist distinct cells
        val probed = q.select("cell").distinct().collect().map(_.getInt(0))
        cellsFrame.where(col("cell").isin(probed.map(Integer.valueOf): _*))
      }
    rankTopK(scorePairs(
      c.join(broadcast(q), "cell").where(col("id_b") =!= col("id_a"))
        .select("id_a", "id_b", "vec_a", "vec_b")), k)
  }
}
