package graft.engine

import graft.json._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the round-2 fixes: SimHash pigeonhole recall, skew
  * caps, enum/const ANSI type safety, hostname column-path length caps,
  * non-finite numerics in the row core, and fallback payload projection. */
class Round2FixSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("simhash pigeonhole: any pair within maxHamming shares at least one block (property)") {
    val rnd = new scala.util.Random(42)
    for (maxHamming <- 0 to 6) {
      val blocks = Dedup.simhashBlocks(maxHamming)
      assert(blocks.map(_._2).sum === 64)
      def blockKey(sig: Long, start: Int, w: Int): Long =
        if (w == 64) sig else (sig >>> start) & ((1L << w) - 1)
      for (_ <- 1 to 200) {
        val a = rnd.nextLong()
        // flip exactly maxHamming distinct bits (the full 64-bit range)
        val flips = rnd.shuffle((0 until 64).toList).take(maxHamming)
        val b = flips.foldLeft(a)((acc, j) => acc ^ (1L << j))
        val shared = blocks.exists { case (start, w) =>
          blockKey(a, start, w) == blockKey(b, start, w)
        }
        assert(shared, s"pair at distance $maxHamming shares no block: a=$a flips=$flips")
      }
    }
    // invalid maxHamming fails loudly instead of silently losing recall
    intercept[IllegalArgumentException](Dedup.simhashBlocks(32))
    intercept[IllegalArgumentException](Dedup.simhashBlocks(-1))
  }

  test("simhash block-bucket cardinality grows with corpus size (64-bit keyspace)") {
    // THE 32-bit failure mode: at maxHamming=3, 8-bit blocks give ≤256
    // distinct buckets per block no matter the corpus, so every bucket blows
    // past the skew cap at scale. 64-bit blocks are 16 bits — distinct
    // buckets must keep growing with distinct docs.
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, s"document $i with unique words w${i * 7} w${i * 13} w${i * 29}"))
      .toDF("doc_id", "text")
    def bucketsPerBlock0(n: Int): Long = {
      val sigs = Dedup.simhashFrame(corpus(n), "doc_id", "text")
        .collect().map(_.getLong(1))
      val (start, w) = Dedup.simhashBlocks(3)(0)
      sigs.map(s => (s >>> start) & ((1L << w) - 1)).distinct.length.toLong
    }
    val small = bucketsPerBlock0(300)
    val large = bucketsPerBlock0(2000)
    assert(large > small, s"bucket count must grow with corpus: $small -> $large")
    assert(large > 256, s"64-bit blocks must exceed the 32-bit 256-bucket ceiling: $large")
  }

  test("simhashPairs differential: equals brute-force hamming pairs (full recall)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = TextOps.withMutatedTwins(docs, "doc_id", "text")
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue())).toSet
    // brute force over the SAME signatures the operator buckets with
    val sigs = Dedup.simhashFrame(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === expected)
  }

  test("simhashPairs catches twins whose differing bits fall in the top block") {
    // craft texts empirically: find two with hamming<=2 and a flip inside the
    // LAST pigeonhole block (a single-prefix bucketing scheme would miss them)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    val variants = (0 until 200).map(i => (i.toLong, base + s" tail$i"))
    val df = variants.toDF("doc_id", "text")
    val sigs = Dedup.simhashFrame(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (topStart, _) = Dedup.simhashBlocks(2).last
    val prefixPairs = for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 2 &&
        ((sa ^ sb) >>> topStart) != 0L // differing bit inside the top block
    } yield (ia, ib)
    assert(prefixPairs.nonEmpty, "corpus has no top-block-differing close pair; adjust fixture")
    val found = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    prefixPairs.foreach(p => assert(found.contains(p), s"missed top-block-differing pair $p"))
  }

  test("skew caps keep boilerplate corpora from quadratic candidate stages") {
    // 2000 identical docs + 2 distinct near-dups
    val boiler = (0 until 2000).map(i => (i.toLong, "the same boilerplate text repeated verbatim across the corpus"))
    val extras = Seq((9001L, "a unique document about rivers and mountains flowing east"),
      (9002L, "a unique document about rivers and mountains flowing west"))
    val df = (boiler ++ extras).toDF("doc_id", "text")
    val cap = 100
    // minhash: the boilerplate bucket (2000 rows) must be dropped, not joined
    assert(Dedup.skewedBuckets(df, "doc_id", "text", maxBucket = cap) > 0)
    val mh = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5, maxBucket = cap)
    assert(mh.count() < 50) // without the cap this is ~2M boilerplate pairs
    // simhash: same cap discipline
    assert(Dedup.simhashSkewedBuckets(df, "doc_id", "text", maxHamming = 2, maxBucket = cap) > 0)
    val sh = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 2, maxBucket = cap)
    assert(sh.count() < 50)
    // srp: identical embeddings all land in one bucket; cap drops it
    val emb = (0 until 500).map(i => (i.toLong, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    assert(Similarity.srpSkewedBuckets(emb, bits = 4, maxBucket = 100) > 0)
    assert(Similarity.cosineNearDups(emb, 0.99, bits = 4, maxBucket = 100).count() === 0)
  }

  test("connected components: chains, separate clusters, canonicalization") {
    // chain 1-2-3-4 (diameter 3), separate pair 10-11, star 20-(21,22,23)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // long path exercises multi-iteration propagation
    val path = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    val pathComp = Dedup.components(path).collect().map(_.getLong(1)).distinct
    assert(pathComp === Array(0L))
    // canonicalize keeps exactly the min-id member per cluster + singletons
    val docs = (1L to 5L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val kept = Dedup.canonicalize(docs, Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(1L, 4L, 5L))
    // empty pair frame: no components, canonicalize passes everything through
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.components(noPairs).count() === 0)
    assert(Dedup.canonicalize(docs, noPairs, "doc_id").count() === 5)
  }

  test("enum/const against a type-incompatible column is invalid, not an ANSI crash") {
    val df = Seq(("a", "hello", 5L), ("b", "3", 7L)).toDF("id", "s", "n")
    val payload = struct(col("s"), col("n"))
    val ptype = StructType(Seq(StructField("s", StringType), StructField("n", LongType)))
    // numeric enum on a string field + string const on a numeric field
    val schema = graft.schema.SchemaDoc.schema(
      """{"properties":{"s":{"enum":[3, 5]},"n":{"const":"7"}}}""")
    val out = df.withColumn("valid", ColumnCompiler.validity(schema, payload, ptype))
      .select("id", "valid").collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(out === Map("a" -> false, "b" -> false))
    // row core agrees (cross-type JSON values are simply unequal)
    val row = graft.validate.Validator.validate(schema,
      JObj(Vector("s" -> JStr("3"), "n" -> JNum(BigDecimal(7)))), graft.validate.Options())
    assert(!row.valid)
  }

  test("hostname column path enforces the RFC 1034 length caps like the row core") {
    val longLabel = "a" * 64 + ".example.com"            // label > 63
    val okLabel = "a" * 63 + ".example.com"              // label == 63 is fine
    val longTotal = (Seq.fill(31)("a" * 7).mkString(".") + ".example.org." +
      Seq.fill(5)("b" * 7).mkString(".")).take(300)      // > 255 chars total
    val cases = Seq(("long_label", longLabel), ("ok_label", okLabel),
      ("long_total", longTotal), ("valid", "spark.apache.org"))
    val df = cases.toDF("id", "h")
    val schema = graft.schema.SchemaDoc.schema("""{"properties":{"h":{"format":"hostname"}}}""")
    val ptype = StructType(Seq(StructField("h", StringType)))
    val out = df.select(col("id"), ColumnCompiler.validity(schema, struct(col("h")), ptype)).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toMap
    assert(out === Map("long_label" -> false, "ok_label" -> true,
      "long_total" -> false, "valid" -> true))
    // column path agrees with the row core on every case (incl. both caps)
    cases.foreach { case (id, h) =>
      assert(graft.validate.Formats.hostname(h) === out(id), s"disagree on $id")
    }
  }

  test("row core survives NaN/Infinity doubles (no BigDecimal crash)") {
    val nan = RowValidator.toJVal(Double.NaN, DoubleType)
    val pinf = RowValidator.toJVal(Double.PositiveInfinity, DoubleType)
    val ninf = RowValidator.toJVal(Double.NegativeInfinity, DoubleType)
    assert(nan.isInstanceOf[JNum] && pinf.isInstanceOf[JNum] && ninf.isInstanceOf[JNum])
    val schema = graft.schema.SchemaDoc.schema("""{"type":"number","maximum":100}""")
    val res = graft.validate.Validator.validate(schema, nan, graft.validate.Options())
    assert(!res.valid) // NaN ~ above any bound, like Spark's NaN ordering
    val resNeg = graft.validate.Validator.validate(schema, ninf, graft.validate.Options())
    assert(resNeg.valid)
    // distinct sentinels mirror Spark's double equality: NaN = NaN,
    // Inf = Inf, NaN != Inf — so uniqueItems sees [NaN, Inf] as distinct
    assert(nan === RowValidator.toJVal(Double.NaN, DoubleType))
    assert(nan !== pinf)
    assert(pinf !== ninf)
    val uniq = graft.schema.SchemaDoc.schema("""{"uniqueItems":true}""")
    assert(graft.validate.Validator.validate(uniq,
      graft.json.JArr(Vector(nan, pinf)), graft.validate.Options()).valid)
    assert(!graft.validate.Validator.validate(uniq,
      graft.json.JArr(Vector(nan, nan)), graft.validate.Options()).valid)
  }

  test("row-core fallback validates the payload fields only, matching the column path") {
    // additionalProperties:false forces the row-core fallback; pass-through
    // columns (doc_num) must NOT count as additional properties
    val docs = Seq((1L, "doc-1", Seq(("text", "hello", null: String, 0))))
      .toDF("doc_num", "doc_id", "raw")
      .withColumn("spans", expr(
        "transform(raw, r -> named_struct('kind', r._1, 'text', r._2, 'media_ref', r._3, 'offset', r._4))"))
      .drop("raw")
    val schemaJson =
      """{"type":"object","additionalProperties":false,
        |  "properties":{"doc_id":{"type":"string"},"spans":{"type":"array"}}}""".stripMargin
    val out = ValidationJob.withVerdicts(spark, docs, schemaJson)
    assert(out.select("valid").collect().forall(_.getBoolean(0)),
      "pass-through doc_num column leaked into the validated instance")
  }
}
