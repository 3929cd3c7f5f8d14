package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall/consistency properties of the near-dup and similarity operators
  * against exact computations on the small slice. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text").cache()
  private lazy val corpus = TextOps.withMutatedTwins(docs, "doc_id", "text").cache()
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("minhash-LSH finds every injected twin pair (recall = 1 on twins)") {
    val twins = docs.where(col("doc_id") % 50 === 0).select("doc_id").collect()
      .map(_.getLong(0)).map(id => (-id - 1, id)).toSet // (id_a, id_b) with a < b
    // twin jaccards bottom out ~0.75 (short docs); the default 4-band ×
    // 4-row S-curve has a ~19% per-pair miss rate there, so the recall
    // claim needs the sharper 8-band × 2-row curve (≥ 0.999 at j = 0.75) —
    // picking bands to match the corpus similarity floor IS the LSH tuning
    // contract, not a workaround
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        h = 16, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twins.subsetOf(pairs),
      s"missing twins: ${twins.diff(pairs)}")
  }

  test("minhash candidate jaccard values are exact (verify step)") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
  }

  test("simhash: identical text has distance 0, twins are close, held at scale by bucketing") {
    val sig = corpus.select(col("doc_id"), Dedup.simhash64(col("text")).as("sig"))
    val twins = sig.where(col("doc_id") >= 0 && col("doc_id") % 50 === 0)
      .select(col("doc_id").as("id"), col("sig").as("sig_o"))
      .join(sig.where(col("doc_id") < 0).select((-col("doc_id") - 1).as("id"), col("sig").as("sig_t")), "id")
      .withColumn("hamming", bit_count(col("sig_o").bitwiseXOR(col("sig_t"))))
    val dists = twins.select("hamming").collect().map(_.getAs[Number](0).longValue())
    assert(dists.nonEmpty)
    // a few appended words flip few bits; short docs flip more (64-bit sig)
    assert(dists.forall(_ <= 24), s"twin hamming distances too large: ${dists.mkString(",")}")
    assert(dists.sum.toDouble / dists.length <= 12.0, "mean twin distance too large")
  }

  test("brute-force topK is symmetric with DuckDB-checked cosine and deterministic") {
    val a = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), 5).collect()
    val b = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), 5).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.length === 15)
    // sims sorted desc within query
    a.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.sameElements(sims.sorted.reverse))
    }
  }

  test("ANN results are a subset of exact cosine scores (no fabricated sims)") {
    val ann = Similarity.annTopK(emb, emb.where(col("vec_id") < 5), 3, bits = 4).collect()
    assert(ann.nonEmpty)
    val exactAll = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), 499).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(exactAll.contains(key))
      assert(math.abs(exactAll(key) - r.getDouble(3)) < 1e-9)
    }
  }

  test("IVF topK: sims are exact on probed candidates, training is deterministic, recall is high") {
    val queries = emb.where(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, queries, 3, nlist = 8, nProbe = 3).collect()
    assert(ivf.nonEmpty)
    // sims must agree with the exact computation (IVF only restricts candidates)
    val exactAll = Similarity.bruteForceTopK(emb, queries, 499).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(exactAll.contains(key))
      assert(math.abs(exactAll(key) - r.getDouble(3)) < 1e-9)
    }
    // recall@3 vs brute force with 3/8 cells probed
    val exactTop = Similarity.bruteForceTopK(emb, queries, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exactTop.count(got.contains).toDouble / exactTop.size
    assert(recall >= 0.5, s"IVF recall@3 too low: $recall")
    // deterministic across runs (no RNG in training or assignment)
    val again = Similarity.ivfTopK(emb, queries, 3, nlist = 8, nProbe = 3).collect()
    assert(ivf.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("BPE-ish token count: contractions, digit runs and symbol runs counted") {
    import spark.implicits._
    val rows = Seq(
      ("don't stop", 3),            // [don]['t][ stop]
      ("hello world", 2),
      ("a1b2", 4),                  // [a][1][b][2]
      ("wait... what?!", 4),        // [wait][...][ what][?!]
      ("", 0))
      .toDF("text", "expected")
    val got = rows.select(col("expected"),
      TextOps.bpeTokenCount(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getInt(1) === r.getInt(0), r.toString))
  }

  test("CosineSim6 expression is bit-identical to the typed cosineArrays + HALF_UP rounding") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val rnd = new scala.util.Random(11)
    val cases: Seq[(Array[Float], Array[Float])] =
      (0 until 200).map { i =>
        def vec(n: Int) = Array.fill(n)((rnd.nextFloat() - 0.5f) * 4f)
        i % 7 match {
          case 0 => (Array.fill(8)(0f), vec(8))            // zero-norm side
          case 1 => (Array.empty[Float], vec(4))           // empty side
          case 2 => (vec(5), vec(9))                       // mismatched lengths
          case 3 => val v = vec(16); (v, v.clone)          // identical (sim 1)
          case 4 => val v = vec(16); (v, v.map(-_))        // opposite (sim -1)
          case _ => (vec(64), vec(64))
        }
      }
    // a length mismatch (the empty-side and mismatched cases) is an input
    // fault: it raises rather than scoring over the shorter prefix
    val (mismatched, scored) = cases.zipWithIndex.partition { case ((a, b), _) =>
      a.length != b.length }
    assert(mismatched.nonEmpty)
    mismatched.foreach { case ((a, b), i) =>
      intercept[IllegalArgumentException](expressions.CosineSim6Bridge.sim(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b)))
    }
    val df = spark.createDataFrame(
      scored.map { case ((a, b), i) => (i.toLong, a.toSeq, b.toSeq) })
      .toDF("i", "a", "b")
    val got = df.select(col("i"), column(expressions.CosineSim6(
        expression(col("a").cast("array<float>")),
        expression(col("b").cast("array<float>")))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    scored.foreach { case ((a, b), i) =>
      val want = new java.math.BigDecimal(Similarity.cosineArrays(a, b))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(got(i.toLong) === want, s"case $i")
    }
    // and the expression stays inside whole-stage codegen (no fallback
    // projection, no typed boundary)
    val plan = df.select(column(expressions.CosineSim6(
        expression(col("a").cast("array<float>")),
        expression(col("b").cast("array<float>")))).as("sim"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), plan.take(600))
  }

  test("CosineSim6 raises on a null array element instead of reading it as a value") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vecs = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    def f(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    val cases = Seq(
      (f(1f, null, 2f), f(1f, 1f, 1f)),    // null on the left
      (f(1f, 2f), f(3f, null)),            // null on the right
      (f(1f), f(1f, 2f, null)))            // null past the shorter side
    cases.foreach { case (a, b) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(a, b)), 1), vecs)
      val e = intercept[Exception](df.select(column(expressions.CosineSim6(
        expression(col("a")), expression(col("b"))))).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("graft_cosine_sim6")), s"$a / $b: $e")
    }
  }

  test("CosineSim6 raises on arrays of different lengths, naming both lengths") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import spark.implicits._
    Seq((Seq(1f, 2f, 3f), Seq(1f, 2f)), (Seq.empty[Float], Seq(1f))).foreach { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val e = intercept[Exception](df.select(column(expressions.CosineSim6(
        expression(col("a")), expression(col("b"))))).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains(s"(${a.length} vs ${b.length})")), s"$a / $b: $e")
    }
  }

  test("LSH bucket stage: both self-join sides scan one cached relation with one repartition exchange") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    val helper = new AdaptiveSparkPlanHelper {}
    def scanned(p: LogicalPlan): Option[InMemoryRelation] = p match {
      case r: InMemoryRelation => Some(r)
      case u if u.children.size == 1 => scanned(u.children.head)
      case _ => None
    }
    def check(name: String, df: DataFrame): Unit = {
      val selfJoined = df.queryExecution.optimizedPlan.collect {
        case j: Join => (scanned(j.left), scanned(j.right))
      }.collect { case (Some(a), Some(b)) if a.cacheBuilder eq b.cacheBuilder => a }
      assert(selfJoined.size === 1, s"$name: ${df.queryExecution.optimizedPlan}")
      val cached = selfJoined.head.cacheBuilder.cachedPlan
      val repartitions = helper.collect(cached) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => e
      }
      assert(repartitions.size === 1, s"$name: $cached")
    }
    try {
      check("minhashPairs", Dedup.minhashPairs(corpus, "doc_id", "text"))
      check("simhashPairs", Dedup.simhashPairs(corpus, "doc_id", "text"))
      check("cosineNearDups", Similarity.cosineNearDups(emb, 0.99, bits = 4))
      check("winnowPairs", Dedup.winnowPairs(corpus, "doc_id", "text"))
    } finally Caches.releaseAll()
  }

  test("cosine near-dups finds injected near-identical twins") {
    val twins = emb.where(col("vec_id") % 100 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
    val dups = Similarity.cosineNearDups(emb.unionByName(twins), 0.99, bits = 4).collect()
    val found = dups.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.where(col("vec_id") % 100 === 0).select("vec_id").collect()
      .map(_.getLong(0)).map(id => (id, id + 1000000)).toSet
    assert(expected.subsetOf(found), s"missing: ${expected.diff(found)}")
  }

  test("media feature extraction is deterministic and schema-complete") {
    val f1 = MediaOps.extractFeatures(MediaOps.syntheticMedia(spark)).collect()
      .sortBy(_.media_ref)
    val f2 = MediaOps.extractFeatures(MediaOps.syntheticMedia(spark)).collect()
      .sortBy(_.media_ref)
    assert(f1.length === 200)
    assert(f1.zip(f2).forall { case (a, b) =>
      a.media_ref == b.media_ref && a.width == b.width &&
        a.feature.sameElements(b.feature)
    })
    assert(f1.forall(_.feature.length === 8))
    // video refs get frame counts > 1 sometimes; frame sampling is pure Column
    val sampled = MediaOps.extractFeatures(MediaOps.syntheticMedia(spark)).toDF()
      .select(MediaOps.sampleFrameIndexes(col("frames"), 4).as("idx"))
      .where(size(col("idx")) > 0).count()
    assert(sampled === 200)
  }

  test("image resize: real decode of the resized payload matches reported dims, bounded by maxDim") {
    val resized = MediaOps.resizeImages(MediaOps.syntheticMedia(spark), maxDim = 16)
      .collect()
    assert(resized.length === 200)
    resized.filter(_.mime == "image/png").foreach { r =>
      assert(r.width <= 16 && r.height <= 16, s"${r.media_ref}: ${r.width}x${r.height}")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      assert(img.getWidth === r.width && img.getHeight === r.height)
    }
    // non-images pass through byte-identical
    val orig = MediaOps.syntheticMedia(spark).select("media_ref", "payload").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    resized.filterNot(_.mime == "image/png").foreach(r =>
      assert(r.payload.sameElements(orig(r.media_ref))))
  }

  test("winnowing fingerprints: stable under runs, robust to append, distinct for distinct text") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field " * 4
    val df = Seq(
      (0L, base),
      (1L, base),                                  // identical
      (2L, base + " with a small appended suffix"), // near-dup
      (3L, "an entirely different document about database engines and storage layouts " * 4))
      .toDF("doc_id", "text")
    val fp = TextOps.winnowingFingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(0L) === fp(1L))
    val overlap2 = fp(0L).intersect(fp(2L)).size.toDouble / fp(0L).size
    assert(overlap2 > 0.8, s"append should keep most fingerprints, got $overlap2")
    val overlap3 = fp(0L).intersect(fp(3L)).size.toDouble / fp(0L).size
    assert(overlap3 < 0.2, s"distinct text should share few fingerprints, got $overlap3")
  }

  test("winnowing fingerprints raise on a null id, like the typed stage they replace") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, "some text long enough to fingerprint"), Row(null, "another text")), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val e = intercept[Exception](TextOps.winnowingFingerprints(df, "doc_id", "text").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("NOT_NULL_ASSERT_VIOLATION")), e.toString)
  }

  test("text quality scores stay in [0,1] and language id hits the label often") {
    val q = docs.select(TextOps.qualityColumns(coalesce(col("text"), lit("")))
      .map { case (n, c) => c.as(n) }: _*).collect()
    assert(q.forall(r => r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
    // NB the synthetic corpus draws English-ish words regardless of the
    // `lang` label (verified: doc 0 is labeled "es" with English text), so
    // we assert the detector reads the TEXT: predictions are dominated by
    // en/unknown, are deterministic, and an obviously-German probe works.
    val langs = spark.read.parquet(s"$sfDir/documents.parquet").select(col("lang"),
      TextOps.langId(coalesce(col("text"), lit(""))).as("pred")).collect()
    val enOrUnknown = langs.count(r => Set("en", "unknown").contains(r.getString(1)))
    assert(enOrUnknown.toDouble / langs.length > 0.8,
      s"english-ish corpus should be detected as en/unknown, got ${langs.groupBy(_.getString(1)).view.mapValues(_.length).toMap}")
    import spark.implicits._
    val probe = Seq(
      ("de", "der hund und die katze sind nicht da"),
      ("fr", "le chat et la souris dans les champs"),
      ("en", "the cat and the dog of the house")).toDF("expect", "text")
      .select(col("expect"), TextOps.langId(col("text")).as("pred")).collect()
    probe.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("semDedup: injected twins dropped, originals kept; verdict covers the corpus") {
    val twins = emb.where(col("vec_id") % 100 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
    val corpus = emb.unionByName(twins)
    val out = Similarity.semDedup(corpus, threshold = 0.99, bits = 4, maxBucket = 512)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size.toLong === corpus.count()) // one verdict per vector
    val twinIds = twins.select("vec_id").collect().map(_.getLong(0))
    assert(twinIds.nonEmpty)
    twinIds.foreach { t =>
      assert(!out(t), s"twin $t has a smaller-id near-dup, must be dropped")
      assert(out(t - 1000000), s"original ${t - 1000000} is its group's min id, must survive")
    }
    // random embeddings are mutually near-orthogonal: nothing else drops
    assert(out.count(!_._2) === twinIds.length)
  }

  test("embedDecontam flags rescaled benchmark leaks; benchmark side broadcasts") {
    // benchmark = rescaled copies of every 23rd corpus vector: cosine is
    // scale-invariant, so each source vector is a KNOWN sim-1.0 leak that
    // lands in the same SRP bucket deterministically
    val bench = emb.where(col("vec_id") % 23 === 5)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
    val hits = Similarity.embedDecontam(emb, bench, threshold = 0.99,
      bits = 4, maxBucket = 512)
    val byId = hits.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val benchIds = bench.select("vec_id").collect().map(_.getLong(0))
    assert(benchIds.nonEmpty)
    benchIds.foreach { b =>
      val (bid, sim, n) = byId.getOrElse(b, fail(s"leak source $b not flagged"))
      assert(bid === b && sim === 1.0 && n >= 1L)
    }
    // random embeddings are mutually near-orthogonal — only the planted
    // leaks are contaminated
    assert(byId.keySet === benchIds.toSet)
    // the benchmark index must broadcast — the corpus probe side is the
    // 10^12-row table and must not shuffle before the verified-hit filter
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("embedDriftBins: identical snapshots are zero-drift; a flipped population moves bucket mass") {
    val same = Similarity.embedDriftBins(emb, emb, bits = 4).collect()
    same.foreach(r => assert(r.getLong(1) === r.getLong(2)))
    assert(Drift.psi(same.map(_.getLong(1)).toSeq, same.map(_.getLong(2)).toSeq) === 0.0)
    // current snapshot: half the vectors rectified (component-wise abs) —
    // their mass concentrates on the positive side of every hyperplane, an
    // occupancy shift PSI can see. Two fixtures that DON'T register, both
    // measured: flipping one component of 64 (psi 0.007 — a 64-term dot
    // rarely changes sign) and negating whole vectors (psi 0.02 — a
    // measure-preserving involution on a symmetric distribution moves
    // every vector but not the histogram)
    val cur = emb.withColumn("embedding",
      when(col("vec_id") % 2 === 0, transform(col("embedding"), x => abs(x)))
        .otherwise(col("embedding")))
    val bins = Similarity.embedDriftBins(emb, cur, bits = 4).collect()
    // occupancy is conserved — only mass moves between buckets
    assert(bins.map(_.getLong(1)).sum === bins.map(_.getLong(2)).sum)
    val psi = Drift.psi(bins.map(_.getLong(1)).toSeq, bins.map(_.getLong(2)).toSeq)
    assert(psi > 0.2, s"negated population must register drift, psi=$psi")
    // partition-independence: bucketing is row-local, counts are partial aggs
    val rep = Similarity.embedDriftBins(emb.repartition(7), cur.repartition(5), bits = 4)
      .collect()
    assert(rep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      bins.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("SRP bucket bits are integer-exact: order-free and equal to the SQL-mirror arithmetic on boundary vectors") {
    // Boundary-adversarial vectors: dots that a FLOAT fold evaluates within
    // ±1 ulp of zero depending on summation order (the round-4 q_embed_drift
    // hash mismatch). The fixed-point formulation must give the same bucket
    // for ANY summation order — simulated here with the exact BigInt sum of
    // the mirror's per-component ⌊x·2²⁰⌋ terms and with reversed/shuffled
    // fold orders.
    val bits = 4
    val dim = 64
    val signs = Similarity.srpSigns(bits, dim)
    val rng = new scala.util.Random(12345)
    val adversarial: Seq[Array[Float]] =
      // exact cancellations: +x then -x in some order, dot exactly 0
      Seq.tabulate(32) { t =>
        val v = new Array[Float](dim)
        for (i <- 0 until dim / 2) {
          val x = (rng.nextFloat() - 0.5f) * 2f
          v(2 * i) = x; v(2 * i + 1) = if (signs(t % bits)(2 * i) == signs(t % bits)(2 * i + 1)) -x else x
        }
        v
      } ++
      // near-zero dots: tiny components around the fixed-point grid
      Seq.tabulate(64) { _ =>
        Array.fill(dim)(((rng.nextInt(5) - 2).toFloat) / Similarity.srpFixedScale.toFloat)
      } ++
      // rectified vectors (the drift fixture shape)
      Seq.tabulate(32) { _ => Array.fill(dim)(math.abs(rng.nextFloat() - 0.5f)) }
    adversarial.foreach { vec =>
      val got = Similarity.srpBucketOf(signs, vec, bits)
      // mirror arithmetic: exact BigInt sum of floor(x·2^20)·sign, any order
      var mirror = 0L
      for (j <- 0 until bits) {
        val terms = vec.indices.map { i =>
          val q = BigInt(math.floor(vec(i).toDouble * Similarity.srpFixedScale).toLong)
          if (signs(j)(i) > 0) q else -q
        }
        val dotFwd = terms.sum
        val dotRev = terms.reverse.sum
        val dotShuf = rng.shuffle(terms.toVector).sum
        assert(dotFwd === dotRev && dotFwd === dotShuf) // order-free by construction
        if (dotFwd > 0) mirror |= (1L << j)
      }
      assert(got === mirror, s"bucket mismatch on ${vec.take(8).mkString(",")}…")
    }
  }

  test("line scrub: recurring normalized lines removed, unique lines and order survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "HEADER  Line\nbody one\nfooter"),
      (2L, "header line\nbody two\nfooter"),
      (3L, "header line\nbody three"),
      (4L, "solo document"),
      (5L, "footer\nheader line"), // boilerplate-only doc
      (6L, "body one") // body dup in only 2 docs < minDocs
    ).toDF("doc_id", "text")
    val out = Dedup.scrubBoilerplateLines(corpus, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // "header line" normalizes identically in docs 1,2,3,5 (case +
    // double-space variant included); "footer" is in 1,2,5 — both ≥ 3 docs
    assert(out(1L) === ((3L, 2L, "body one")))
    assert(out(2L) === ((3L, 2L, "body two")))
    assert(out(3L) === ((2L, 1L, "body three")))
    assert(out(4L) === ((1L, 0L, "solo document")))
    assert(out(5L) === ((2L, 2L, "")))
    assert(out(6L) === ((1L, 0L, "body one")))
  }

  test("line scrub: one doc repeating its own line is not boilerplate; blank lines exempt") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spam\nspam\nspam\nspam\nunique a"), // same line 4x within ONE doc
      (2L, "unique b\n\nunique c"),
      (3L, "\n\nunique d"),
      (4L, "\nunique e")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubBoilerplateLines(corpus, "doc_id", "text", minDocs = 3)
    val m = out.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(m(1L) === "spam\nspam\nspam\nspam\nunique a")
    assert(m(2L) === "unique b\n\nunique c")
    assert(m(3L) === "\n\nunique d") // blank lines recur in 3 docs, still kept
    assert(m(4L) === "\nunique e")
    assert(out.where(col("n_removed") > 0).count() === 0)
  }

  test("line scrub: minDocs is a sharp distinct-doc threshold; partition-independent") {
    import spark.implicits._
    val corpus = (1L to 20L).map { i =>
      val footer = if (i <= 5) "shared footer\n" else ""
      (i, s"${footer}doc body $i")
    }.toDF("doc_id", "text")
    val scrubbed = Dedup.scrubBoilerplateLines(corpus, "doc_id", "text", minDocs = 5)
    assert(scrubbed.where(col("n_removed") > 0).count() === 5)
    assert(scrubbed.where(col("doc_id") === 3L).head.getString(3) === "doc body 3")
    val kept = Dedup.scrubBoilerplateLines(corpus, "doc_id", "text", minDocs = 6)
    assert(kept.where(col("n_removed") > 0).count() === 0)
    val b = Dedup.scrubBoilerplateLines(corpus.repartition(7), "doc_id", "text", minDocs = 5)
    assert(scrubbed.collect().toSet === b.collect().toSet)
  }
}
