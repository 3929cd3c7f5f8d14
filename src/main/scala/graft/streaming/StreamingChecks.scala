package graft.streaming

import graft.engine.{DocTable, ValidationJob}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming front of the engine: per-column streaming stats with
  * watermarked tumbling windows, streaming validation (same compiled Column
  * plan as batch — the schema compiles once, the stream reuses it), and
  * stateful running per-partition verdicts via mapGroupsWithState.
  */
object StreamingChecks {

  /** Windowed stats over a streaming frame with event-time column `tsCol`:
    * count / min / max / avg + HLL++ approx-distinct per window. Late data
    * beyond `watermark` is dropped (state is bounded — mandatory at scale). */
  def windowedStats(
      stream: DataFrame, tsCol: String, valueCol: String,
      windowDuration: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("n"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        avg(col(valueCol)).as("avg_value"),
        approx_count_distinct(col(valueCol), 0.02).as("approx_distinct"))
      .select(col("window.start").as("window_start"),
        col("n"), col("min_value"), col("max_value"),
        col("avg_value"), col("approx_distinct"))

  /** Streaming validation: the batch [[ValidationJob.withVerdicts]] applied
    * to a stream of interleaved docs — the same driver-compiled Catalyst
    * plan, and the same row-core fallback for a schema the compiler cannot
    * express. Adds `valid` + `errors`. */
  def validatedStream(stream: DataFrame, schemaJson: String = DocTable.docSchemaJson): DataFrame =
    ValidationJob.withVerdicts(stream.sparkSession, stream, schemaJson)

  /** Per-window histogram bins over a value stream — the streaming substrate
    * for drift monitoring. One watermarked stateful aggregation; emit in
    * append mode once the watermark passes, then score completed windows
    * with [[windowDriftScores]] (e.g. inside `foreachBatch`, the standard
    * two-stage shape since chained stateful aggs are restricted). */
  def windowedBins(
      stream: DataFrame, tsCol: String, valueCol: String, binWidth: Double,
      windowDuration: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration),
        floor(col(valueCol) / binWidth).cast(IntegerType).as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("bin"), col("n"))

  /** Batch scoring of completed windows against a reference histogram
    * (from a prior snapshot's [[graft.engine.Checks.driftBins]]): PSI per
    * window via [[graft.engine.Drift]]. Tiny frames (one row per
    * window×bin) — collected and scored on the driver. */
  def windowDriftScores(
      bins: DataFrame, refCounts: Map[Int, Long]): Seq[(java.sql.Timestamp, Double)] = {
    // null bins (null values have no histogram bucket) carry no drift signal
    val byWindow = bins.collect()
      .filterNot(r => r.isNullAt(1))
      .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    byWindow.toSeq.sortBy(_._1.getTime).map { case (w, rows) =>
      val cur = rows.map(r => r._2 -> r._3).toMap
      val allBins = (refCounts.keySet ++ cur.keySet).toSeq.sorted
      val psi = graft.engine.Drift.psi(
        allBins.map(refCounts.getOrElse(_, 0L)),
        allBins.map(cur.getOrElse(_, 0L)))
      (w, psi)
    }
  }

  /** Streaming exact dedup on a key within the watermark horizon:
    * `dropDuplicatesWithinWatermark` keeps state only for the watermark
    * window (bounded state — a plain dropDuplicates would grow state
    * forever on an unbounded doc_id stream). */
  def streamingDedup(
      stream: DataFrame, keyCol: String, tsCol: String,
      watermark: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Continuous-ingestion dedup: drop stream docs whose content fingerprint
    * already exists in a static corpus snapshot (stream-static LEFT-ANTI
    * join — supported with the static side on the right, and at scale the
    * static fingerprint set is the snapshot's dedup index), then bound
    * in-stream duplicates with `dropDuplicatesWithinWatermark` on the same
    * fingerprint (state bounded by the watermark horizon, mandatory on an
    * unbounded stream). The streaming face of
    * [[graft.engine.Dedup.incrementalNew]]. */
  def streamingIngestDedup(
      stream: DataFrame, existing: DataFrame, textCol: String, tsCol: String,
      watermark: String = "2 minutes"): DataFrame = {
    val fp = graft.engine.TextOps.fingerprint(coalesce(col(textCol), lit("")))
    val known = existing.select(
      graft.engine.TextOps.fingerprint(coalesce(col(textCol), lit(""))).as("f"))
      .distinct()
    stream
      .withColumn("f", fp)
      .join(known, Seq("f"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("f")
  }

  /** Streaming NEAR-dup detection against a static corpus snapshot: each
    * stream doc's MinHash band keys (the batch path's signature column)
    * probe the snapshot's precomputed
    * [[graft.engine.Dedup.minhashIndex]] with a stream-static equi-join on
    * (band, bucket), and every candidate is verified with the exact shingle
    * Jaccard — LSH only generates candidates, identical to batch
    * [[graft.engine.Dedup.minhashPairs]] semantics. The index side carries
    * the skew cap (`maxBucket` applied when the index was built), so a
    * degenerate boilerplate bucket can never blow up a micro-batch join.
    *
    * Output: (stream_id, static_id, jaccard) for jaccard ≥ threshold,
    * self-matches excluded. A pair colliding in several bands (or a doc
    * re-sent across micro-batches) emits repeat rows — a stream cannot
    * globally dedup without unbounded state; pass `tsCol` to bound repeats
    * with `dropDuplicatesWithinWatermark`, or dedup downstream.
    *
    * The stream side must use the SAME (k, h, bands) the index was built
    * with — band keys are positional hashes over the signature. */
  def streamingNearDup(
      stream: DataFrame, staticIndex: DataFrame, idCol: String, textCol: String,
      k: Int = 3, h: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      tsCol: Option[String] = None, watermark: String = "2 minutes"): DataFrame = {
    // the watermark column rides beside the signature column — a post-hoc
    // join back to the stream would be a stream-stream join
    val probes = graft.engine.Dedup
      .signatureFrame(withTs(stream, tsCol), idCol, textCol, k, h, bands, tsCol.toSeq)
      .select(col("id").as("stream_id") +: col("shingles").as("sh_s") +:
        posexplode(col("bands")).as(Seq("band", "bucket")) +: tsCol.map(col).toSeq: _*)
    val matched = probes
      .join(staticIndex.select(col("band"), col("bucket"),
        col("id").as("static_id"), col("shingles").as("sh_i")),
        Seq("band", "bucket"))
      .where(col("stream_id") =!= col("static_id"))
      .withColumn("jaccard", graft.engine.Dedup.setJaccard(col("sh_s"), col("sh_i")))
      .where(col("jaccard") >= threshold)
    val out = matched.select(
      (Seq(col("stream_id"), col("static_id"),
        round(col("jaccard"), 6).as("jaccard")) ++ tsCol.map(col)): _*)
    tsCol match {
      case Some(ts) => out.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark("stream_id", "static_id")
      case None => out
    }
  }

  /** Continuous-ingestion EMBEDDING decontamination: each stream vector's
    * SRP bucket (the batch path's bucket column) probes a
    * static [[graft.engine.Similarity.embedIndex]] of the benchmark with a
    * stream-static equi-join, and every candidate is verified with the
    * exact cosine — identical semantics to batch
    * [[graft.engine.Similarity.embedDecontam]]'s hit stage. The index side
    * carries the skew cap from when it was built, so a degenerate bucket
    * can never blow up a micro-batch join.
    *
    * Output: (stream_id, bench_id, sim) for sim ≥ threshold. A vector
    * re-sent across micro-batches emits repeat rows — pass `tsCol` to
    * bound repeats with `dropDuplicatesWithinWatermark`, or dedup
    * downstream. The stream side must use the SAME `bits` the index was
    * built with. */
  def streamingEmbedDecontam(
      stream: DataFrame, staticIndex: DataFrame, idCol: String, vecCol: String,
      bits: Int = 6, threshold: Double = 0.99,
      tsCol: Option[String] = None, watermark: String = "2 minutes"): DataFrame = {
    val probes = graft.engine.Similarity
      .srpFrame(withTs(stream, tsCol), idCol, vecCol, bits, tsCol.toSeq)
      .select(col("id").as("id_a") +: col("vec").as("vec_a") +:
        col("bucket") +: tsCol.map(col).toSeq: _*)
    // the watermark column rides through the scorer — scorePairs keeps
    // every non-vector column, and joining the ts back afterwards would be
    // a stream-stream join
    val scored = graft.engine.Similarity.scorePairs(probes
        .join(staticIndex.select(col("bucket"), col("id").as("id_b"),
          col("vec").as("vec_b")), Seq("bucket")))
      .select(col("id_a").as("stream_id") +: col("id_b").as("bench_id") +:
        col("sim") +: tsCol.map(col).toSeq: _*)
    val out = scored.where(col("sim") >= threshold)
    tsCol match {
      case Some(ts) => out.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark("stream_id", "bench_id")
      case None => out
    }
  }

  /** The stream with its event-time column, if any, cast to a timestamp. */
  private def withTs(stream: DataFrame, tsCol: Option[String]): DataFrame =
    tsCol.fold(stream)(ts => stream.withColumn(ts, col(ts).cast(TimestampType)))

  final case class PartitionCounts(partition: Int, passCount: Long, failCount: Long)

  /** Running per-partition pass/fail counts over a validated stream —
    * custom state via mapGroupsWithState (the north-rule "per-partition
    * verdicts", maintained incrementally). */
  def runningPartitionVerdicts(
      validated: DataFrame, nPartitions: Int): org.apache.spark.sql.Dataset[PartitionCounts] = {
    val spark = validated.sparkSession
    import spark.implicits._
    validated
      .select(pmod(col("doc_num"), lit(nPartitions)).cast(IntegerType).as("partition"),
        col("valid"))
      .as[(Int, Boolean)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), PartitionCounts](GroupStateTimeout.NoTimeout) {
        case (part, rows, state: GroupState[(Long, Long)]) =>
          val (p0, f0) = state.getOption.getOrElse((0L, 0L))
          var p = p0; var f = f0
          rows.foreach { case (_, ok) => if (ok) p += 1 else f += 1 }
          state.update((p, f))
          PartitionCounts(part, p, f)
      }
  }

  /** Continuous contract monitoring: per micro-batch, profile the batch
    * ([[graft.engine.SchemaInfer.evidence]] — a schema-bounded aggregate,
    * NOT per-row state) and report only rows that BREAK the reference
    * contract ([[graft.engine.SchemaInfer.contractBreaks]]): a batch whose
    * values are a strict subset of the contract raises nothing; new enum
    * values, out-of-range numbers, appearing nulls, or new columns raise
    * their aspect rows. `onBreaks(batchId, rows)` runs on the driver per
    * offending batch; the break frame is path-counted tiny. Start the
    * returned writer (`.start()`) like any sink. */
  def contractMonitor(stream: DataFrame, refEvidence: DataFrame)(
      onBreaks: (Long, Seq[org.apache.spark.sql.Row]) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // an empty batch carries no evidence (its `required` would read
        // false everywhere) — skip rather than false-alarm
        if (!batch.isEmpty) {
          val breaks = graft.engine.SchemaInfer.contractBreaks(
            refEvidence, graft.engine.SchemaInfer.evidence(batch)).collect()
          if (breaks.nonEmpty) onBreaks(batchId, breaks.toIndexedSeq)
        }
    }
}
