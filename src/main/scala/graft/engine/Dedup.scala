package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection at corpus scale: MinHash+LSH (shingle → minhash
  * signature → banded buckets → candidate join → exact-Jaccard verify),
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale shape: signatures are a narrow projection (no shuffle); the only
  * shuffles are the band-bucket join (keys are (band, bucket-hash), load
  * spread across `bands × buckets`) and the final pair dedup. Candidate
  * pairs — not all N² pairs — are verified. This is the standard LSH plan
  * for 10^12-doc dedup.
  */
object Dedup {

  /** Distinct word k-shingles; texts shorter than k words yield one shingle. */
  def wordShingles(text: Column, k: Int = 3): Column = {
    val words = split(trim(text), "\\s+")
    val n = size(words)
    when(n <= k, array(concat_ws(" ", words)))
      .otherwise(array_distinct(
        transform(sequence(lit(0), n - k), i =>
          concat_ws(" ", slice(words, i + 1, lit(k))))))
  }

  /** splitmix64 golden-ratio increment (public constant). */
  private[engine] val golden = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer — decorrelates seeds over the md5 base. */
  private[engine] def mix64(z0: Long): Long = {
    var z = z0
    z ^= (z >>> 30); z *= 0xbf58476d1ce4e5b9L
    z ^= (z >>> 27); z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** One MD5 digest per thread for the whole engine — the kernel columns
    * of this module, [[Similarity]], [[TextOps]] and [[Pipeline]], and the
    * native `Hash64`/`SimHash64` expressions all hash through it, so hot
    * loops allocate no digest (MessageDigest.digest resets). */
  private val md5Tl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** First 8 bytes of the MD5 of `bytes`, big-endian. */
  private[engine] def md5Base(bytes: Array[Byte]): Long = {
    val d = md5Tl.get().digest(bytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  private[engine] def md5Base(s: String): Long =
    md5Base(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** 64-bit string hash with a seed: splitmix64 finalizer over the string's
    * md5 base plus `seed · golden`. MD5 supplies the per-string entropy and
    * the finalizer decorrelates seeds; chosen over a bespoke FNV loop
    * because every stage is exactly mirrorable in DuckDB ([[HashSql]]), so
    * even the LSH signature/bucketing stages are hash-match oracled — the
    * same design move as [[Similarity.srpSigns]]' SQL-literal sign matrix. */
  private[engine] def hash64(s: String, seed: Int): Long =
    mix64(md5Base(s) + seed * golden)

  /** A per-row Scala kernel as a column: Spark's own `udf`, named for the
    * plan and flagged nondeterministic. The kernel IS deterministic; the
    * flag is Catalyst's one guard against running it twice per row. A
    * deterministic UDF is copied into every filter pushed through its
    * Project — a null filter after an `Option` kernel, the join-key
    * `isnotnull`, the `size(arr) > 0` that InferFiltersFromGenerate puts
    * under every explode — and then runs in the Filter AND the Project.
    * Flagged, it stays once in the Project that defines it: the same
    * optimizer barrier a typed `mapPartitions` stage is, without that
    * stage's Deserialize/Serialize pair around the kernel. */
  private[graft] def kernel(name: String, f: UserDefinedFunction): UserDefinedFunction =
    f.withName(name).asNondeterministic()

  private[engine] def shinglesOf(text: String, k: Int): Array[String] = {
    val words = text.trim.split("\\s+")
    if (words.length <= k) Array(words.mkString(" "))
    else {
      val out = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + k <= words.length) {
        out += words.slice(i, i + k).mkString(" ")
        i += 1
      }
      out.toArray
    }
  }

  /** Per-doc minhash core of the signature column: distinct k-shingles and
    * the banded LSH keys of their h-way minhash signature. */
  private[engine] def minhashOf(
      text: String, k: Int, h: Int, bands: Int): (Array[String], Array[Long]) = {
    val rowsPerBand = h / bands
    val sh = shinglesOf(text, k)
    val sig = Array.fill(h)(Long.MaxValue)
    var si = 0
    while (si < sh.length) {
      // md5 once per shingle; per-seed hashes are cheap mixes on top
      val base = md5Base(sh(si))
      var j = 0
      while (j < h) {
        val hv = mix64(base + j * golden)
        if (hv < sig(j)) sig(j) = hv
        j += 1
      }
      si += 1
    }
    val bandKeys = Array.tabulate(bands) { b =>
      var acc = 0x9e3779b97f4a7c15L + b
      var r = 0
      while (r < rowsPerBand) {
        acc = (acc ^ sig(b * rowsPerBand + r)) * 0x100000001b3L
        r += 1
      }
      acc
    }
    (sh, bandKeys)
  }

  /** (id, shingles, bands) over (id, text), plus the `carry` columns kept
    * beside them (a stream's watermark column). The minhash kernel is one
    * [[kernel]] column with plain JVM loops: Spark's higher-order functions
    * are CodegenFallback — the interpreted per-shingle lambda costs ~100×
    * this, which matters when the signature stage runs over 10^12 docs. */
  private[graft] def signatureFrame(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, h: Int, bands: Int, carry: Seq[String] = Nil): DataFrame = {
    val minhash = kernel("minhash", udf((t: String) => minhashOf(t, k, h, bands)))
    docs.select(col(idCol).cast(LongType).as("id") +:
        minhash(coalesce(col(textCol), lit(""))).as("mh") +: carry.map(col): _*)
      .select(col("id") +: col("mh._1").as("shingles") +: col("mh._2").as("bands") +:
        carry.map(col): _*)
  }

  /** Full MinHash-LSH near-dup pipeline.
    * Input: (id, text); output: (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard ≥ threshold (exact Jaccard over shingle sets — LSH only
    * generates candidates; the verify step is exact). */
  def minhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, h: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 64): DataFrame = {
    require(h % bands == 0, "bands must divide the signature length")
    // The signature frame is referenced by the bucket stage and the two
    // verify joins — persist it (at warehouse scale this is the standard
    // materialized signature table).
    val base = signatureFrame(docs, idCol, textCol, k, h, bands)
      .persistTracked()
    // Shuffle discipline: the band self-join moves only (band, bucket, id) —
    // shingle arrays are re-attached AFTER candidate-pair dedup, so the wide
    // payload crosses the wire once per *surviving* candidate, not once per
    // bucket collision.
    val candidates = bucketPairs(
        base.select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket"))),
        Seq("band", "bucket"), maxBucket)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("jaccard", setJaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** The one skew cap of every LSH family ("block purging"): keep the rows
    * of `keyed` whose bucket — its value of the `keys` columns — holds at
    * most `maxBucket` rows. A degenerate bucket (boilerplate text ⇒
    * identical band keys) would otherwise produce O(bucket²) candidates;
    * true near-dup pairs still meet in their other, rarer buckets with high
    * probability. NOT silent: [[skewedCount]] counts the dropped buckets. */
  private[graft] def capBuckets(
      keyed: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val small = keyed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bsize"))
      .where(col("_bsize") <= maxBucket)
      .select(keys.map(col): _*)
    keyed.join(small, keys)
  }

  /** Count of buckets above the [[capBuckets]] skew cap, over the same keys,
    * so the metric describes the buckets actually dropped. */
  private[graft] def skewedCount(
      keyed: DataFrame, keys: Seq[String], maxBucket: Int): Long =
    keyed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bsize"))
      .where(col("_bsize") > maxBucket).count()

  /** The LSH bucket stage: cap `keyed` (an `id` column plus the bucket
    * `keys`), shuffle it by the keys ONCE and persist the co-partitioned
    * result, then self-join it per bucket into (keys, id_a, carry_a…, id_b,
    * carry_b…) rows with id_a < id_b — each `carry` column suffixed `_a`/`_b`.
    * Both join sides read the cache, so the join adds no second payload
    * exchange and the prune-join runs once (the alias-renamed sides defeat
    * Catalyst's ReuseExchange otherwise). A pair meeting in several buckets
    * appears once per bucket. */
  private[graft] def bucketPairs(
      keyed: DataFrame, keys: Seq[String], maxBucket: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val pruned = capBuckets(keyed, keys, maxBucket)
      .repartition(keys.map(col): _*)
      .persistTracked()
    def side(s: String): DataFrame = pruned.select(keys.map(col) ++
      (col("id").as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), keys).where(col("id_a") < col("id_b"))
  }

  /** The materializable MinHash-LSH band-key index of a corpus snapshot:
    * one (band, bucket, id, shingles) row per doc × band, with buckets
    * above `maxBucket` dropped (the same skew discipline as
    * [[minhashPairs]] — a boilerplate bucket would otherwise make every
    * incoming probe join O(bucket) rows). At scale this frame is WRITTEN
    * (partitioned by band) as the snapshot's near-dup index; a new batch or
    * stream probes it with a plain equi-join on (band, bucket) — see
    * [[graft.streaming.StreamingChecks.streamingNearDup]]. */
  def minhashIndex(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, h: Int = 16, bands: Int = 4, maxBucket: Int = 64): DataFrame = {
    require(h % bands == 0, "bands must divide the signature length")
    val exploded = signatureFrame(docs, idCol, textCol, k, h, bands)
      .select(col("id"), col("shingles"),
        posexplode(col("bands")).as(Seq("band", "bucket")))
    capBuckets(exploded, Seq("band", "bucket"), maxBucket)
      .select("band", "bucket", "id", "shingles")
  }

  /** Persist a [[minhashIndex]] as a BUCKETED, per-bucket-sorted table.
    * Probe joins against `spark.table(name)` then read pre-bucketed files:
    * Catalyst plans NO exchange and NO sort on the index side — only the
    * (small) incoming batch shuffles into the index's bucket layout. At
    * snapshot scale the index is written once and probed by every
    * ingestion batch/stream, so this removes the dominant recurring
    * shuffle (re-shuffling the 10^12-row index per probe). `numBuckets`
    * spreads each (band, bucket) key space across files; size it so a
    * bucket file stays in the hundreds of MB. */
  def writeBucketedMinhashIndex(
      index: DataFrame, name: String, numBuckets: Int = 64): Unit =
    index.write.mode("overwrite")
      .bucketBy(numBuckets, "band", "bucket")
      .sortBy("band", "bucket")
      .format("parquet")
      .saveAsTable(name)

  /** Count of LSH buckets exceeding the skew cap — computed from the SAME
    * [[signatureFrame]] band hashing [[minhashPairs]] prunes with, so the
    * metric describes the buckets actually dropped. */
  def skewedBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, h: Int = 16, bands: Int = 4, maxBucket: Int = 64): Long =
    skewedCount(signatureFrame(docs, idCol, textCol, k, h, bands)
      .select(posexplode(col("bands")).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucket)

  /** Exact Jaccard of two SETS — the one Jaccard of the engine (batch and
    * streaming verify, fuzzy decontamination, the n-gram check). Both
    * inputs MUST be distinct-element arrays: every producer in this engine
    * emits distinct shingle sets ([[shinglesOf]] via `LinkedHashSet`,
    * [[wordShingles]] via `array_distinct`), so |A∪B| = |A|+|B|−|A∩B| and
    * the union's second per-row hash-set build is replaced by arithmetic
    * over the intersect (the intersect subtree appears twice; whole-stage
    * codegen's subexpression elimination evaluates it once). On arrays with
    * repeats the result is wrong, not an error. */
  def setJaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast(DoubleType)
    inter / (size(shA).cast(DoubleType) + size(shB).cast(DoubleType) - inter)
  }

  /** 64-bit SimHash over whitespace tokens (hamming distance via
    * `bit_count(a ^ b)`), as a native codegen expression — per-token
    * `hash64(token, 0)`, 64 up/down counters, sign → bit. Uses the full
    * 64-bit token hash: a narrower signature shrinks the pigeonhole block
    * keyspace (32-bit blocks at maxHamming=3 are 8 bits = 256 buckets/
    * block), which collapses recall under the skew cap at ≥10⁸ docs —
    * exactly the scale SimHash exists for. (An earlier Column formulation
    * built 64 `aggregate` higher-order calls per row — CodegenFallback,
    * ~100× interpreted; the native expression IS the production path now.) */
  def simhash64(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.engine.expressions.SimHash64(
        org.apache.spark.sql.GraftColumnBridge.expression(text)))

  /** Signature frame — a pure Column projection over the native SimHash64
    * expression: whole-stage codegen, full column pruning, no typed stage. */
  private[engine] def simhashFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast(LongType).as("id"),
      simhash64(coalesce(col(textCol), lit(""))).as("sig"))

  /** Pigeonhole block boundaries: `maxHamming + 1` contiguous blocks
    * covering all 64 signature bits (remainder bits widen the last block).
    * Any pair within hamming distance ≤ maxHamming differs in at most
    * maxHamming blocks, so it agrees EXACTLY on at least one block —
    * bucketing per block therefore has full recall, unlike a single-prefix
    * bucket (which misses any pair whose differing bits land in the prefix).
    *
    * 64-bit blocks are the scale guarantee: at maxHamming=3 each block is
    * 16 bits (65,536 buckets/block), so bucket populations stay under any
    * sane `maxBucket` far past 10⁹ docs — the 32-bit variant's 8-bit blocks
    * (256 buckets) would ALL exceed the cap and be dropped, silently
    * collapsing recall to zero. */
  private[graft] def simhashBlocks(maxHamming: Int): Array[(Int, Int)] = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32): got $maxHamming — " +
        "64/(maxHamming+1)-bit blocks would collapse and lose recall")
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks
    Array.tabulate(nBlocks) { b =>
      val start = b * width
      val w = if (b == nBlocks - 1) 64 - start else width
      (start, w)
    }
  }

  /** One key per pigeonhole block — shared by the pruning join and the skew
    * metric so observability always describes the buckets actually used. */
  private def simhashBlockKeys(maxHamming: Int): Column =
    array(simhashBlocks(maxHamming).map { case (start, w) =>
      // unsigned shift — the sign bit is signature payload, not sign; a
      // width-64 block (maxHamming = 0) is the whole signature (1L << 64
      // wraps to 1, so the mask expression would be wrong there)
      if (w == 64) col("sig")
      else shiftrightunsigned(col("sig"), start).bitwiseAND(lit((1L << w) - 1L))
    }.toSeq: _*)

  /** SimHash near-dup pairs via pigeonhole multi-block LSH: emit one
    * (block, block-bits) key per signature block, self-join per key, verify
    * full hamming ≤ maxHamming. Full recall by the pigeonhole principle;
    * `maxBucket` caps degenerate buckets (boilerplate corpora put thousands
    * of identical signatures in one bucket → O(bucket²)) with observability
    * via [[simhashSkewedBuckets]]. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame = {
    val exploded = simhashFrame(docs, idCol, textCol)
      .select(col("id"), col("sig"),
        posexplode(simhashBlockKeys(maxHamming)).as(Seq("block", "key")))
      .persistTracked()
    bucketPairs(exploded, Seq("block", "key"), maxBucket, Seq("sig"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** Incremental exact dedup for snapshot ingestion: from a NEW batch keep
    * one doc per fingerprint (min id — in-batch dedup via partial-aggregable
    * groupBy) and drop fingerprints already present in the existing corpus,
    * via a left-anti join on the fingerprint. At 10^12 existing docs the
    * anti-join shuffles one row per DISTINCT new-batch fingerprint against
    * the existing fingerprint set — the batch is always the small side of
    * the ingestion, never the corpus. Output: (doc_id, f) of the accepted
    * new docs. */
  def incrementalNew(
      newDocs: DataFrame, existing: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val fp = TextOps.fingerprint(coalesce(col(textCol), lit(""))).as("f")
    incrementalNewVsFingerprints(newDocs, existing.select(fp).distinct(),
      idCol, textCol)
  }

  /** [[incrementalNew]] against a PRE-COMPUTED fingerprint index
    * (`fingerprints(f)`) — the steady-state ingestion shape: at 10^12
    * existing docs the corpus fingerprint set is a materialized table the
    * pipeline maintains incrementally (append each batch's accepted `f`s),
    * not something recomputed from raw text per batch. */
  def incrementalNewVsFingerprints(
      newDocs: DataFrame, fingerprints: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val newFp = newDocs.select(col(idCol).cast(LongType).as("doc_id"),
        TextOps.fingerprint(coalesce(col(textCol), lit(""))).as("f"))
      .groupBy("f").agg(min("doc_id").as("doc_id"))
    newFp.join(fingerprints.select("f"), Seq("f"), "left_anti")
      .select("doc_id", "f")
  }

  /** Canonical-doc selection per exact-duplicate cluster: keep the
    * highest-quality member (ties → smallest id). Formulated as
    * `max_by(id, (score, -id))` under a fingerprint groupBy — a
    * partial-aggregable map-side-combining aggregate, deliberately NOT a
    * `row_number` window: a boilerplate fingerprint with 10^6 members would
    * pin a window's whole partition on one task, while the aggregate
    * reduces it map-side. Output: (f, keep_id, n_members, best_score). */
  def keepBest(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val score = TextOps.qualityColumns(text).toMap.apply("quality_score")
    keepBestScored(docs.select(col(idCol).cast(LongType).as("doc_id"),
      TextOps.fingerprint(text).as("f"), score.as("score")))
  }

  /** [[keepBest]] over a frame already carrying (doc_id, f, score) — lets a
    * pipeline that has just paid a quality projection
    * ([[Pipeline.curate]]'s verdict pass computes the same composite score)
    * reuse it instead of re-deriving the four character-class ratios from
    * the text a second time. Same aggregate, same output contract. */
  def keepBestScored(scored: DataFrame): DataFrame =
    scored.groupBy("f")
      .agg(max_by(col("doc_id"), struct(col("score"), -col("doc_id"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        round(max("score"), 6).as("best_score"))

  /** Exact substring-dedup spans, window-granular (the "remove repeated
    * ≥k-token runs from training data" operator of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * k-token window hashes into an inverted index; windows whose hash
    * occurs more than once in the corpus are duplicated runs, and each doc
    * reports how much of it is covered by them. Stages: one narrow kernel
    * column (n, window hashes) exploded to (id, n, pos, windowHash), a
    * count-aggregate over the hash (partial-agg, no raw-window shuffle
    * beyond the index itself), a join back, and a doc-local coverage union
    * (BitSet over token positions) — positions per doc are bounded by doc
    * length, never corpus size. Hot
    * hashes above `maxBucket` (site-wide boilerplate) are dropped, the same
    * skew discipline as [[minhashPairs]]. Output per affected doc:
    * (doc_id, n_tokens, n_dup_windows, dup_tokens, dup_frac). */
  def dupSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20, maxBucket: Int = 10000): DataFrame = {
    require(k > 0)
    val windows = kernel("dup_windows", udf { (t: String) =>
      val tokens = TextOps.normTokens(t)
      (tokens.length, windowHashes(tokens, k))
    })
    val wins = docs.select(col(idCol).cast(LongType).as("id"),
        windows(coalesce(col(textCol), lit(""))).as("w"))
      .select(col("id"), col("w._1").as("n_tokens"),
        posexplode(col("w._2")).as(Seq("pos", "h")))
    val dupHashes = wins.groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") > 1 && col("c") <= maxBucket)
      .select("h")
    val covered = kernel("dup_coverage",
      udf((ps: Seq[Int], n: Int) => coverage(ps, n, k).cardinality()))
    wins.join(dupHashes, Seq("h"))
      .groupBy(col("id"), col("n_tokens"))
      .agg(count(lit(1)).cast(IntegerType).as("nw"), collect_list("pos").as("ps"))
      .select(col("id"), col("n_tokens"), col("nw"),
        covered(col("ps"), col("n_tokens")).as("cov"))
      .select(col("id").as("doc_id"), col("n_tokens"), col("nw").as("n_dup_windows"),
        col("cov").as("dup_tokens"),
        (col("cov").cast(DoubleType) / col("n_tokens")).as("dup_frac"))
  }

  /** The hash of every k-token window of `tokens`, by start position. */
  private def windowHashes(tokens: Array[String], k: Int): Array[Long] =
    Array.tabulate(math.max(0, tokens.length - k + 1)) { i =>
      hash64(tokens.slice(i, i + k).mkString(" "), 11)
    }

  /** Token positions of an n-token doc covered by k-token windows starting
    * at `ps`. */
  private def coverage(ps: Seq[Int], n: Int, k: Int): java.util.BitSet = {
    val covered = new java.util.BitSet(n)
    ps.foreach(p => covered.set(p, math.min(p + k, n)))
    covered
  }

  /** The REWRITE half of exact substring dedup (Lee et al.): duplicated
    * ≥k-token runs are cut from every occurrence EXCEPT the corpus-
    * canonical one — the lexicographically smallest (id, pos) occurrence
    * of each duplicated window keeps its text — and each doc's surviving
    * tokens are re-joined. [[dupSpans]] is the measurement pass; this is
    * the pass that actually produces the deduplicated training corpus.
    *
    * Scale shape: the window index is the same narrow (id, pos, hash)
    * projection as [[dupSpans]]; the canonical occurrence rides the SAME
    * count-aggregate as the dup filter (one `min(struct(id, pos))` partial
    * agg — no second shuffle); coverage is doc-local (BitSet over token
    * positions); and the normalized-text frame is materialized once
    * (tracked cache) because both the window stage and the final rebuild
    * read it. Hot window hashes above `maxBucket` (site-wide boilerplate)
    * are exempt from scrubbing, mirroring [[dupSpans]]' skew discipline.
    * Output per doc (ALL docs, scrubbed or not): (doc_id, n_tokens,
    * dup_tokens, kept_text) over whitespace-normalized lowercased text. */
  def scrubDupSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20, maxBucket: Int = 10000): DataFrame = {
    require(k > 0)
    val normalize = kernel("normalize", udf((t: String) => TextOps.normalize(t)))
    val norm = Caches.persistTracked(
      docs.select(col(idCol).cast(LongType).as("id"),
        normalize(coalesce(col(textCol), lit(""))).as("norm")))
    val windows = kernel("scrub_windows",
      udf((t: String) => windowHashes(TextOps.splitNormalized(t), k)))
    val wins = norm.select(col("id"), windows(col("norm")).as("hs"))
      .select(col("id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val dups = wins.groupBy("h")
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("pos"))).as("keep"))
      .where(col("c") > 1 && col("c") <= maxBucket)
      .select(col("h"), col("keep.id").as("keep_id"), col("keep.pos").as("keep_pos"))
    val removed = wins.join(dups, Seq("h"))
      .where(!(col("id") === col("keep_id") && col("pos") === col("keep_pos")))
      .groupBy("id").agg(collect_list("pos").as("ps"))
    val rebuild = kernel("scrub_rebuild", udf { (t: String, ps: Seq[Int]) =>
      val tokens = TextOps.splitNormalized(t)
      val n = tokens.length
      val covered = coverage(Option(ps).getOrElse(Nil), n, k)
      val kept = (0 until n).iterator.filterNot(covered.get).map(tokens).mkString(" ")
      (n, covered.cardinality(), kept)
    })
    norm.join(removed, Seq("id"), "left")
      .select(col("id"), rebuild(col("norm"), col("ps")).as("r"))
      .select(col("id").as("doc_id"), col("r._1").as("n_tokens"),
        col("r._2").as("dup_tokens"), col("r._3").as("kept_text"))
  }

  /** Line-level boilerplate scrub (CCNet / RefinedWeb style): lines whose
    * normalized form (trim → whitespace-collapse → lowercase) recurs in at
    * least `minDocs` DISTINCT documents are removed from every document —
    * the standard kill for cookie banners, nav menus, copyright footers and
    * other template chrome that survives document-level dedup because the
    * surrounding text differs.
    *
    * Scale shape: one `posexplode` over lines (output bounded by corpus
    * bytes), the frequent-line set via two partial-friendly aggregates
    * (DISTINCT (fingerprint, doc) then a count per fingerprint — distinct
    * docs, not occurrences, so one spammy doc repeating its own line can't
    * promote it to boilerplate), a join back on the 128-bit line
    * fingerprint (the frequent set is ≤ total_lines / minDocs rows and
    * shrinks as minDocs grows — AQE broadcasts it), and one per-doc
    * reassembly aggregate. Lines travel the frequency stages as md5
    * fingerprints, never as text. Blank lines are exempt (paragraph
    * structure survives). The final per-doc rebuild sorts each doc's kept
    * lines (`array_sort` + `transform` over an array bounded by doc
    * length — an interpreted HOF, but over n_docs result rows, not per
    * line). The line frame is deliberately COMPUTED TWICE (frequency pass,
    * then join-back) rather than persisted: the explode is re-computable
    * scan work, while caching it would spill a corpus-sized intermediate —
    * the same two-pass trade as [[Pipeline.importanceResample]]. Output
    * per doc: (doc_id, n_lines, n_removed, kept_text) with original line
    * text and order preserved. */
  def scrubBoilerplateLines(
      docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 50): DataFrame = {
    require(minDocs >= 2, "a line must recur across docs to be boilerplate")
    val lines = docs
      .select(col(idCol).cast(LongType).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line")))
      .withColumn("fp", TextOps.fingerprint(col("line")))
    val frequent = lines
      .where(trim(col("line")) =!= "")
      .select("fp", "id").distinct()
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("fp"), lit(true).as("freq"))
    lines.join(frequent, Seq("fp"), "left")
      .withColumn("freq", coalesce(col("freq"), lit(false)))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("freq"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("freq"), struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          "\n").as("kept_text"))
      .select(col("id").as("doc_id"), col("n_lines"), col("n_removed"), col("kept_text"))
  }

  /** Winnowing near-dup pairs: each doc's winnowing fingerprints
    * ([[TextOps.winnowingFingerprints]]) explode into an inverted index
    * (fingerprint → ids); docs sharing ≥ `minShared` fingerprints are
    * near-dup candidates — the classic plagiarism-detection join. Same
    * scale discipline as [[minhashPairs]]: hot fingerprints (boilerplate
    * runs) above `maxBucket` are dropped, and the pruned index is
    * co-partitioned + cached once so the self-join adds no second payload
    * exchange. Output: (id_a, id_b, shared) with id_a < id_b.
    *
    * COST MODEL (measured, see BASELINE.md): the candidate join emits
    * Σ_f min(c_f, maxBucket)² rows over the fingerprint document
    * frequencies c_f — the MID-tail (c_f in the hundreds) dominates, not
    * the capped head. Size `maxBucket` from the pair budget: join rows ≤
    * distinct_f · maxBucket², and a fingerprint shared by hundreds of docs
    * is boilerplate, not evidence two specific docs match — true near-dup
    * pairs accumulate `minShared` hits from RARE fingerprints. Benchmarks
    * on corpora with heavy cross-doc token reuse run maxBucket ≈ 64·
    * minShared; the 10k default suits real prose where cross-doc
    * collisions are sparse. (A PPJoin-style prefix filter was tried in
    * round 6 and REVERTED: with ~30 fingerprints per doc and minShared=8
    * the (n−t+1)-prefix keeps ~75% of every posting list, so candidate
    * generation barely shrank while the per-candidate array-intersect
    * verify and the extra per-doc sort/slice stages ~4×'d the stage task
    * time on the twins corpus.)
    *
    * The pair COUNT is a sort-based window over the raw candidate stream,
    * not a groupBy: pair multiplicity is tiny (a candidate pair recurs
    * once per extra shared fingerprint — measured 13.91M candidate rows →
    * 13.57M distinct pairs on the sf0.1 twins corpus, 2.5% combining), so
    * a hash aggregate's map-side combine pays for a per-task map holding
    * every distinct pair (measured 1.9 GB peak execution memory per task
    * and ~2× the stage task time) while eliminating almost nothing. The
    * window shape shuffles the same bytes, then streams sorted runs with
    * bounded memory (a window partition is ONE pair's occurrences, ≤ the
    * doc's fingerprint count) and a spillable sort — strictly friendlier
    * at any scale. Rows surviving the ≥ minShared filter (true near-dup
    * pairs × their multiplicity) feed a small dedup aggregate. */
  def winnowPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 16, minShared: Int = 8,
      maxBucket: Int = 10000): DataFrame = {
    val inv = TextOps.winnowingFingerprints(docs, idCol, textCol, k, window)
      .select(col("id"), explode(col("fingerprints")).as("f"))
    // per-doc fingerprints are distinct, so the per-pair match count IS the
    // intersection size — no post-hoc verify needed
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id_a", "id_b")
    bucketPairs(inv, Seq("f"), maxBucket)
      .select(col("id_a"), col("id_b"))
      .withColumn("shared", count(lit(1)).over(w))
      .where(col("shared") >= minShared)
      .dropDuplicates("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** Linear-size edge set for exact-duplicate groups: one (group-min → id)
    * star edge per non-min member of every duplicate group, via a window
    * min over the group key — O(group) edges where a within-group self-join
    * is O(group²). A boilerplate fingerprint with 10⁶ copies yields 10⁶−1
    * edges, not 5·10¹¹ pairs, and the resulting star graph converges in one
    * [[components]] round. Pair-edges are reserved for genuine near-dup
    * inputs ([[minhashPairs]]/[[simhashPairs]]), which are already
    * skew-capped with dropped-bucket observability. */
  def exactDupEdges(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    df.select(col(keyCol), col(idCol).cast(LongType).as("id"))
      .withColumn("root", min(col("id")).over(w))
      .where(col("id") =!= col("root"))
      .select(col("root").as("id_a"), col("id").as("id_b"))
  }

  /** Connected components over a near-dup pair frame (id_a, id_b):
    * deterministic min-label propagation — every node ends labeled with the
    * smallest id in its component. This is the clustering stage of a dedup
    * pipeline (one canonical doc kept per component).
    *
    * Each iteration is one shuffle join (edges ⋈ labels) + one min-agg;
    * iterations needed = graph diameter, which for near-dup clusters is
    * small (dup groups are near-cliques). The iteration cap is a safety
    * rail — hitting it raises rather than returning wrong labels. At
    * extreme scale swap in star-contraction (O(log n) rounds); the
    * per-round plan (join + partial-agg min) is the same shape. */
  def components(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // localCheckpoint (not just persist) each round: `labels` feeds the next
    // iteration TWICE (neighbor lookup + self), so without lineage
    // truncation the logical plan doubles per iteration and the analyzer
    // cost explodes exponentially. On a cluster swap for a reliable
    // checkpoint dir (same call shape).
    // LAZY checkpoints (eager = false): each round's convergence aggregate
    // below is the action that materializes the round's checkpoint, so a
    // round costs ONE job, not a checkpoint job plus an aggregate job.
    val sym = pairs.select(col("id_a").cast(LongType).as("src"), col("id_b").cast(LongType).as("dst"))
      .union(pairs.select(col("id_b").cast(LongType).as("src"), col("id_a").cast(LongType).as("dst")))
      .localCheckpoint(false)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(false)
    // Convergence by LABEL-SUM: propagation is monotone (a row's label only
    // ever decreases — it takes the least of itself and its neighbors), so
    // next == labels  ⟺  Σ component unchanged. The sum runs in
    // DECIMAL(38,0) (exact far past 10^12 rows of 2^63 labels, no modular
    // wrap), making the test exact — and it costs one narrow aggregate on
    // the freshly checkpointed frame instead of the join + count the
    // previous formulation paid per round (one fewer shuffle per round at
    // any scale).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast(DecimalType(38, 0)))).collect()(0)
        .getDecimal(0)
    var labelsSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"component propagation did not converge in $maxIters iterations")
      // min label over self + neighbors
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component").as("nbr_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_label")).as("min_nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("min_nbr"), col("component"))).as("component"))
        .localCheckpoint(false)
      val nextSum = labelSum(next) // materializes next's checkpoint too
      labels = next
      converged = nextSum == labelsSum ||
        (nextSum != null && nextSum.compareTo(labelsSum) == 0)
      labelsSum = nextSum
      iter += 1
    }
    labels.orderBy("id")
  }

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): converges in O(log n) rounds on ANY graph shape —
    * the at-scale alternative to [[components]], whose round count is the
    * graph diameter (fine for near-clique dup groups, a non-starter for
    * long chains: a 500-deep chain blows [[components]]' iteration cap,
    * while this needs ~⌈log₂ 500⌉ rounds).
    *
    * Each round is two window-min passes over the canonical edge list
    * (large-star hangs every greater neighbor off the local min; small-star
    * contracts the remaining smaller neighbors onto it). Same output
    * contract as [[components]]: (id, component-min) for every node
    * appearing in `pairs`. */
  def componentsStar(
      pairs: DataFrame, maxIters: Int = 60,
      verifyConvergenceExactly: Boolean = false): DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    // canonical edge form: u > v, no self-loops, distinct
    def canon(e: DataFrame): DataFrame =
      e.where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      canon(sym.withColumn("m", least(min(col("v")).over(wU), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges already point big → small
      val withM = e.withColumn("m", least(min(col("v")).over(wU), col("u")))
      canon(withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v"))))
    }
    // lazy checkpoint: nodes are consumed once by the final labeling join,
    // which materializes them there — an eager checkpoint would be a
    // whole extra job for a frame read exactly once
    val nodes = pairs.select(col("id_a").cast(LongType).as("id"))
      .union(pairs.select(col("id_b").cast(LongType).as("id")))
      .distinct().localCheckpoint(false)
    // fixed-point signature: (edge count, order-independent xors of TWO
    // independently-keyed per-edge 64-bit hashes) in ONE partial
    // aggregation — where the previous exact test ran two full `except`
    // anti-joins (two extra shuffles) per round, which at 10⁹ edges ×
    // O(log n) rounds dominates the contraction itself. Sets are distinct
    // post-canon, so a false "converged" needs an xor cancellation on the
    // symmetric difference in BOTH hash families simultaneously (~2⁻¹²⁸
    // per round, and structured/adversarial id patterns that cancel
    // xxhash64(u,v) do not also cancel the argument-swapped family);
    // `verifyConvergenceExactly` keeps the exact anti-join test alongside
    // for specs/debug and asserts the two agree every round.
    def sig(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(v, u))"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // lazy checkpoints: the sig() aggregate is the action that
    // materializes each round's checkpoint — one job per round, not two
    var edges = canon(pairs.select(col("id_a").cast(LongType).as("u"),
        col("id_b").cast(LongType).as("v")))
      .localCheckpoint(false)
    var edgesSig = sig(edges)
    var iter = 0
    var converged = edgesSig._1 == 0L
    while (!converged) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"star contraction did not converge in $maxIters rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = sig(next)
      converged = nextSig == edgesSig
      if (verifyConvergenceExactly) {
        val exact = next.except(edges).isEmpty && edges.except(next).isEmpty
        require(exact == converged,
          s"(count, checksum) convergence disagrees with exact set equality " +
            s"at round $iter: checksum=$converged exact=$exact")
      }
      edges = next
      edgesSig = nextSig
      iter += 1
    }
    // converged edge set is the star (member → component-min); nodes absent
    // from it (roots, self-loop-only nodes) label themselves
    nodes.join(edges.select(col("u").as("id"), col("v").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .orderBy("id")
  }

  /** Canonical-doc selection: keep the smallest-id member of every dup
    * component, pass through docs that appear in no pair. */
  def canonicalize(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comp = components(pairs)
    docs.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .where(col("component").isNull || col("component") === col(idCol))
      .drop("component")
  }

  /** Count of simhash block-buckets above the [[simhashPairs]] skew cap —
    * same block hashing as the pruning. */
  def simhashSkewedBuckets(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000): Long =
    skewedCount(simhashFrame(docs, idCol, textCol)
      .select(posexplode(simhashBlockKeys(maxHamming)).as(Seq("block", "key"))),
      Seq("block", "key"), maxBucket)
}
