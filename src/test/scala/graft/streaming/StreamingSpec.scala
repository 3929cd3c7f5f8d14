package graft.streaming

import graft.engine.{DocTable, SparkTestSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Structured-Streaming behavior via MemoryStream: windowed stats with
  * watermark, streaming validation reusing the compiled batch plan, and
  * stateful running per-partition verdicts. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("windowed stats with watermark aggregate per tumbling window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val stats = StreamingChecks.windowedStats(
      input.toDF().toDF("ts", "value"), "ts", "value", "1 minute", "2 minutes")
    val q = stats.writeStream.format("memory").queryName("win_stats")
      .outputMode("update").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData((t("2026-01-01 00:00:10"), 1.0), (t("2026-01-01 00:00:20"), 3.0),
        (t("2026-01-01 00:01:10"), 10.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM win_stats ORDER BY window_start").collect()
      assert(rows.length === 2)
      assert(rows(0).getAs[Long]("n") === 2)
      assert(rows(0).getAs[Double]("min_value") === 1.0)
      assert(rows(0).getAs[Double]("max_value") === 3.0)
      assert(rows(1).getAs[Long]("n") === 1)
    } finally q.stop()
  }

  test("streaming validation applies the compiled plan and running verdicts accumulate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // stream of (doc_id:long, text) synthesized into interleaved docs
    val input = MemoryStream[(Long, String)]
    val docsStream = DocTable.fromBase(input.toDF().toDF("doc_id", "text"))
    val validated = StreamingChecks.validatedStream(docsStream)
    val running = StreamingChecks.runningPartitionVerdicts(validated, 4)
    val q = running.toDF().writeStream.format("memory").queryName("run_verdicts")
      .outputMode("update").start()
    try {
      input.addData((1L, "alpha beta gamma"), (2L, "delta words here"))
      q.processAllAvailable()
      input.addData((97L, "zero spans doc"), (5L, "more text"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT partition, max(passCount) p, max(failCount) f FROM run_verdicts GROUP BY 1")
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // doc 97 has zero spans (minItems violation) → partition 97%4=1 fails
      val totalPass = rows.values.map(_._1).sum
      val totalFail = rows.values.map(_._2).sum
      assert(totalPass + totalFail >= 4)
      assert(totalFail >= 1, s"doc 97 must fail validation: $rows")
    } finally q.stop()
  }

  test("streaming validation falls back to the row core and matches batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // recursive $ref: not column-expressible, so both paths take the row core
    val meta = """{"$ref":"http://json-schema.org/draft-07/schema#"}"""
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta words here"),
      (97L, "zero spans doc"), (7L, "injected duplicate id"))
    val input = MemoryStream[(Long, String)]
    val validated = StreamingChecks.validatedStream(
      DocTable.fromBase(input.toDF().toDF("doc_id", "text")), meta)
    assert(validated.columns.takeRight(2).toSeq === Seq("valid", "errors"))
    val q = validated.select("doc_num", "valid").writeStream.format("memory")
      .queryName("meta_verdicts").outputMode("append").start()
    try {
      input.addData(base: _*)
      q.processAllAvailable()
      def verdicts(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_num", "valid").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val streamed = verdicts(spark.table("meta_verdicts"))
      val batch = verdicts(graft.engine.ValidationJob.withVerdicts(
        spark, DocTable.fromBase(base.toDF("doc_id", "text")), meta))
      assert(streamed.size === base.size)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("windowed bins + drift scoring: streaming histogram matches batch PSI") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val bins = StreamingChecks.windowedBins(
      input.toDF().toDF("ts", "value"), "ts", "value", binWidth = 10.0,
      "1 minute", "2 minutes")
    val q = bins.writeStream.format("memory").queryName("win_bins")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      // window 00:00 gets values in bins 0,0,1; then advance past watermark
      input.addData((t("2026-01-01 00:00:05"), 1.0), (t("2026-01-01 00:00:15"), 9.0),
        (t("2026-01-01 00:00:25"), 15.0))
      q.processAllAvailable()
      input.addData((t("2026-01-01 01:00:00"), 5.0)) // flushes the first window
      q.processAllAvailable()
      val emitted = spark.sql("SELECT * FROM win_bins ORDER BY window_start, bin")
      val rows = emitted.collect()
      assert(rows.map(r => (r.getInt(1), r.getLong(2))).toSeq === Seq((0, 2L), (1, 1L)))
      // PSI vs a reference histogram matches the batch Drift computation
      val ref = Map(0 -> 10L, 1 -> 10L)
      val scores = StreamingChecks.windowDriftScores(emitted, ref)
      assert(scores.length === 1)
      val expected = graft.engine.Drift.psi(Seq(10L, 10L), Seq(2L, 1L))
      assert(math.abs(scores.head._2 - expected) < 1e-12)
    } finally q.stop()
  }

  test("streaming dedup within watermark drops repeated doc ids with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingChecks.streamingDedup(
      input.toDF().toDF("ts", "doc_id", "text"), "doc_id", "ts", "2 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2026-01-01 00:00:10"), 1L, "first"),
        (t("2026-01-01 00:00:20"), 1L, "dup within watermark"),
        (t("2026-01-01 00:00:30"), 2L, "other"))
      q.processAllAvailable()
      // advance event time far past the watermark so results flush
      input.addData((t("2026-01-01 01:00:00"), 3L, "late bucket"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_stream").collect().map(_.getLong(0))
      assert(ids.count(_ == 1L) === 1, s"doc 1 must be emitted exactly once: ${ids.mkString(",")}")
      assert(ids.contains(2L))
    } finally q.stop()
  }

  test("streaming ingest dedup drops snapshot-known and in-stream duplicate content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val existing = Seq((10L, "alpha beta gamma")).toDF("doc_id", "text")
    val input = MemoryStream[(Timestamp, Long, String)]
    val deduped = StreamingChecks.streamingIngestDedup(
      input.toDF().toDF("ts", "doc_id", "text"), existing, "text", "ts", "2 minutes")
    val q = deduped.writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      def t(s: String) = Timestamp.valueOf(s)
      input.addData(
        (t("2026-01-01 00:00:10"), 1L, "ALPHA   beta gamma"), // known fingerprint
        (t("2026-01-01 00:00:20"), 2L, "delta epsilon"),      // fresh
        (t("2026-01-01 00:00:30"), 3L, "delta  EPSILON"),     // in-stream dup of 2
        (t("2026-01-01 00:00:40"), 4L, "zeta eta"))           // fresh
      q.processAllAvailable()
      input.addData((t("2026-01-01 01:00:00"), 5L, "theta iota")) // flush watermark
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM ingest_dedup").collect()
        .map(_.getLong(0)).toSet
      assert(!ids.contains(1L), "snapshot-known content must be dropped")
      assert(ids.intersect(Set(2L, 3L)).size === 1, "in-stream dup must collapse")
      assert(ids.contains(4L) && ids.contains(5L))
    } finally q.stop()
  }

  test("streaming near-dup against a static minhash index agrees with batch minhashPairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = graft.engine.TextOps.withMutatedTwins(docs, "doc_id", "text")
    // snapshot = the originals; the stream carries their mutated twins
    // (negative ids). maxBucket is set high on BOTH sides so the skew caps
    // (which count different populations: whole corpus vs index side) can't
    // introduce an asymmetry — the agreement under test is the LSH band
    // keys + exact-jaccard verify.
    val originals = corpus.where(col("doc_id") >= 0)
    val index = graft.engine.Dedup
      .minhashIndex(originals, "doc_id", "text", maxBucket = 100000)
      .persist()
    val twins = corpus.where(col("doc_id") < 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val matches = StreamingChecks.streamingNearDup(
      input.toDF().toDF("doc_id", "text"), index, "doc_id", "text",
      threshold = 0.5)
    val q = matches.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      val (a, b) = twins.splitAt(twins.length / 2)
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      input.addData(b.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT stream_id, static_id, jaccard FROM neardup_stream").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
          math.max(r.getLong(0), r.getLong(1)), r.getDouble(2))).toSet
      // batch reference over the combined corpus, restricted to the
      // orig-twin pairs the stream could see
      val batch = graft.engine.Dedup.minhashPairs(
          corpus, "doc_id", "text", threshold = 0.5, maxBucket = 100000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter { case (x, y, _) => (x < 0) != (y < 0) }.toSet
      assert(streamed.nonEmpty, "twins must match their originals")
      assert(streamed === batch)
    } finally { q.stop(); index.unpersist() }
  }

  test("streamingNearDup with tsCol: watermark column survives and re-sent pairs dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val corpus = graft.engine.TextOps.withMutatedTwins(docs, "doc_id", "text")
    val index = graft.engine.Dedup
      .minhashIndex(corpus.where(col("doc_id") >= 0), "doc_id", "text",
        maxBucket = 100000)
      .persist()
    val twins = corpus.where(col("doc_id") < 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(twins.nonEmpty)
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val input = MemoryStream[(Long, String, Timestamp)]
    // the tsCol path must keep the event-time column beside the signature
    // column (a dropped ts makes any tsCol=Some(...) call fail analysis)
    // and bound re-sent duplicates
    val matches = StreamingChecks.streamingNearDup(
      input.toDF().toDF("doc_id", "text", "ts"), index, "doc_id", "text",
      threshold = 0.5, tsCol = Some("ts"))
    val q = matches.writeStream.format("memory").queryName("neardup_ts_stream")
      .outputMode("append").start()
    try {
      // every twin sent TWICE in the same micro-batch
      val batch = twins.flatMap(d => Seq((d._1, d._2, t0), (d._1, d._2, t0)))
      input.addData(batch.toIndexedSeq); q.processAllAvailable()
      val rows = spark.sql(
        "SELECT stream_id, static_id FROM neardup_ts_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.nonEmpty, "twins must match their originals")
      // watermarked dedup: one row per (stream, static) pair despite the
      // duplicate sends
      assert(rows.length === rows.distinct.length)
      // agreement with the no-ts path on WHICH pairs match
      val plain = StreamingChecks.streamingNearDup(
        corpus.where(col("doc_id") < 0), index, "doc_id", "text",
        threshold = 0.5).select("stream_id", "static_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows.toSet === plain)
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming embedding decontam agrees with the batch probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bench = emb.where(col("vec_id") % 23 === 5)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
    // the index is consumed from DISK as the bucketed snapshot table — the
    // production shape (write once per snapshot, probe from every stream
    // run without re-bucketing the benchmark)
    graft.engine.Similarity.writeBucketedEmbedIndex(
      graft.engine.Similarity.embedIndex(bench, bits = 4, maxBucket = 512),
      "graft_stream_embed_idx", numBuckets = 8)
    val index = spark.table("graft_stream_embed_idx")
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[(Long, Array[Float])]
    val matches = StreamingChecks.streamingEmbedDecontam(
      input.toDF().toDF("vec_id", "embedding"), index, "vec_id", "embedding",
      bits = 4, threshold = 0.99)
    val q = matches.writeStream.format("memory").queryName("embeddecon_stream")
      .outputMode("append").start()
    try {
      val (a, b) = vecs.splitAt(vecs.length / 2)
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      input.addData(b.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT stream_id, bench_id, sim FROM embeddecon_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed.nonEmpty, "rescaled leaks must match their sources")
      // reconstruct the batch operator's per-doc best-match aggregate from
      // the streamed pair rows: identical hits ⇒ identical aggregate
      val bestFromStream = streamed.groupBy(_._1).map { case (id, rows) =>
        val best = rows.minBy(t => (-t._3, t._2))
        (id, best._2, best._3, rows.map(_._2).size.toLong)
      }.toSet
      val batch = graft.engine.Similarity.embedDecontam(emb, bench,
          threshold = 0.99, bits = 4, maxBucket = 512)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(bestFromStream === batch)
    } finally {
      q.stop(); spark.sql("DROP TABLE IF EXISTS graft_stream_embed_idx")
    }
  }

  test("streamingEmbedDecontam with tsCol: watermark column survives and re-sent vectors dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 400L).map(id => (id, Array.fill(32)(rnd.nextFloat() - 0.5f)))
    val emb = vecs.toDF("vec_id", "embedding")
    val bench = emb.where(col("vec_id") % 23 === 5)
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
    val index = graft.engine.Similarity.embedIndex(bench, bits = 4, maxBucket = 512)
      .persist()
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    val input = MemoryStream[(Long, Array[Float], Timestamp)]
    val matches = StreamingChecks.streamingEmbedDecontam(
      input.toDF().toDF("vec_id", "embedding", "ts"), index, "vec_id", "embedding",
      bits = 4, threshold = 0.99, tsCol = Some("ts"))
    assert(matches.columns.toSeq === Seq("stream_id", "bench_id", "sim", "ts"))
    val q = matches.writeStream.format("memory").queryName("embeddecon_ts_stream")
      .outputMode("append").start()
    try {
      // every vector sent TWICE in the same micro-batch
      input.addData(vecs.toIndexedSeq.flatMap(v => Seq((v._1, v._2, t0), (v._1, v._2, t0))))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT stream_id, bench_id, sim, ts FROM embeddecon_ts_stream").collect()
      assert(rows.nonEmpty, "rescaled leaks must match their sources")
      // the watermark column rides through the scorer with its value
      assert(rows.forall(_.getTimestamp(3) == t0))
      // watermarked dedup: one row per (stream, bench) pair despite the
      // duplicate sends
      val hits = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(hits.length === hits.map(h => (h._1, h._2)).distinct.length)
      // and the same scored hits as the no-ts path
      val plain = StreamingChecks.streamingEmbedDecontam(
        emb, index, "vec_id", "embedding", bits = 4, threshold = 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(hits.toSet === plain.toSet)
    } finally { q.stop(); index.unpersist() }
  }

  test("pipeline quality filter and split assignment run unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // both ops are stateless per-row (kernel column + codegen columns),
    // so the SAME batch operators must work under incremental execution —
    // this is the ingestion-time filtering path of a training-data pipeline
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val filtered = graft.engine.Pipeline.qualityFilter(docs, "doc_id", "text")
    val splits = graft.engine.Pipeline.splitAssign(docs, "doc_id", salt = 42)
    val q1 = filtered.writeStream.format("memory").queryName("stream_quality")
      .outputMode("append").start()
    val q2 = splits.writeStream.format("memory").queryName("stream_splits")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "buy now " * 30),
        (2L, "the quick brown fox and the lazy dog of the town went to the market in the morning air"))
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData((3L, "un deux trois"))
      q1.processAllAvailable(); q2.processAllAvailable()
      val keep = spark.sql("SELECT doc_id, keep FROM stream_quality").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(keep === Map(1L -> false, 2L -> true, 3L -> false))
      // stream assignments must agree with the batch operator exactly
      val streamed = spark.sql("SELECT doc_id, split FROM stream_splits").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.engine.Pipeline.splitAssign(
          Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id", salt = 42)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(streamed === batch)
    } finally { q1.stop(); q2.stop() }
  }

  test("contractMonitor flags only micro-batches that break the reference contract") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference snapshot -> contract evidence
    val ref = Seq((1L, "red", 1.0d), (50L, "blue", 9.5d)).toDF("id", "color", "score")
    val refEv = graft.engine.SchemaInfer.evidence(ref).cache()
    refEv.count()
    val input = MemoryStream[(Long, String, Double)]
    val reported = scala.collection.mutable.ArrayBuffer[(Long, Set[(String, String)])]()
    val q = StreamingChecks.contractMonitor(
        input.toDF().toDF("id", "color", "score"), refEv) { (batchId, rows) =>
      reported.synchronized {
        reported += batchId -> rows.map(r => (r.getString(0), r.getString(1))).toSet
      }
    }.start()
    try {
      input.addData((2L, "red", 3.5d)) // strict subset: silent
      q.processAllAvailable()
      assert(reported.isEmpty, s"conforming batch reported: $reported")
      input.addData((99L, "green", 3.5d)) // new enum value + above range
      q.processAllAvailable()
      assert(reported.size === 1)
      val aspects = reported.head._2
      assert(aspects.contains(("/id", "max_value")))
      assert(aspects.contains(("/color", "enum")))
    } finally { q.stop(); refEv.unpersist() }
  }
}
