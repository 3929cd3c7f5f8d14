package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Snapshot-aware table layer.
  *
  * Production target is an Iceberg table (north rule); this sandbox ships no
  * Iceberg runtime, so the same semantics — immutable snapshots addressed by
  * id, bucket-partitioned layout, snapshot manifest — are emulated over
  * partitioned Parquet by [[ParquetSnapshotTable]]. Moving to Iceberg means
  * replacing its read/write bodies with `spark.read.format("iceberg")` +
  * `writeTo(...).createOrReplace()`.
  *
  * Layout: `root/snapshot=<id>/bucket=<b>/` parquet files plus
  * `root/_graft_manifest_<id>.json`. Buckets are `hash-mod` partitions of
  * the primary key so (a) per-bucket jobs read only their directory
  * (partition pruning) and (b) the checkpointed runner can resume at bucket
  * granularity at any scale.
  */
final case class TableSnapshot(root: String, snapshotId: String, buckets: Int)

object ParquetSnapshotTable {

  def bucketOf(key: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(key), lit(buckets)).cast(IntegerType)

  def materialize(df: DataFrame, root: String, snapshotId: String,
      bucketKey: String, buckets: Int): TableSnapshot = {
    val out = s"$root/snapshot=$snapshotId"
    df.withColumn("bucket", bucketOf(col(bucketKey), buckets))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(out)
    val snap = TableSnapshot(root, snapshotId, buckets)
    writeManifest(snap, df.sparkSession)
    snap
  }

  private def writeManifest(snap: TableSnapshot, spark: SparkSession): Unit = {
    val dir = Paths.get(s"${snap.root}/snapshot=${snap.snapshotId}")
    val files = Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map { p =>
        s"""{"file": "${dir.relativize(p)}", "bytes": ${Files.size(p)}}"""
      }.toSeq.sorted
    val manifest =
      s"""{"snapshot_id": "${snap.snapshotId}", "buckets": ${snap.buckets},
         | "files": [${files.mkString(", ")}]}""".stripMargin
    Files.writeString(
      Paths.get(s"${snap.root}/_graft_manifest_${snap.snapshotId}.json"), manifest)
  }

  def readBucket(spark: SparkSession, snap: TableSnapshot, bucket: Int): DataFrame =
    spark.read.parquet(s"${snap.root}/snapshot=${snap.snapshotId}")
      .where(col("bucket") === bucket) // partition-pruned: bucket is a partition column

  def readAll(spark: SparkSession, snap: TableSnapshot): DataFrame =
    spark.read.parquet(s"${snap.root}/snapshot=${snap.snapshotId}")
}

/** Resumable checkpointing with per-partition lineage + metrics (north
  * rule). One JSONL line per completed bucket — append-only, idempotent on
  * resume. The runner skips buckets already present; outputs of completed
  * buckets are never rewritten, so an interrupted run resumed to completion
  * is byte-identical to an uninterrupted one.
  */
final class CheckpointManager(checkpointDir: String) {
  private val path = Paths.get(checkpointDir, "lineage.jsonl")
  Files.createDirectories(Paths.get(checkpointDir))

  final case class BucketLineage(
      bucket: Int, snapshotId: String, rows: Long, passCount: Long,
      failCount: Long, violations: Long, outputPath: String)

  def completedBuckets(snapshotId: String): Set[Int] =
    if (!Files.exists(path)) Set.empty
    else Files.readAllLines(path).asScala
      .filter(_.contains(s""""snapshot_id": "$snapshotId""""))
      .flatMap(l => """"bucket": (\d+)""".r.findFirstMatchIn(l).map(_.group(1).toInt))
      .toSet

  def record(l: BucketLineage): Unit = {
    val line =
      s"""{"snapshot_id": "${l.snapshotId}", "bucket": ${l.bucket}, "rows": ${l.rows},
         | "pass_count": ${l.passCount}, "fail_count": ${l.failCount},
         | "violations": ${l.violations}, "output": "${l.outputPath}"}"""
        .stripMargin.replaceAll("\n", "")
    Files.writeString(path, line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}

/** A checkpointed, resumable bulk-validation run over a table snapshot. */
object CheckpointedValidation {

  final class SimulatedFailure(bucket: Int)
      extends RuntimeException(s"simulated failure before bucket $bucket")

  /** Validate every bucket of `snap`, writing verdict parquet per bucket and
    * recording lineage. `failBeforeBucket` (tests) aborts the run just
    * before processing the k-th remaining bucket. Returns processed buckets.
    *
    * Determinism comes from a deterministic partition assignment
    * (hash(doc_num) mod filesPerBucket) plus an in-partition sort — NOT from
    * coalescing to one file, which would serialize each bucket's write
    * through a single task at scale. `filesPerBucket` sizes the write
    * parallelism per bucket. */
  def run(
      spark: SparkSession, snap: TableSnapshot, schemaJson: String,
      outDir: String, checkpoint: CheckpointManager,
      failBeforeBucket: Option[Int] = None,
      filesPerBucket: Int = 4): Seq[Int] = {
    val done = checkpoint.completedBuckets(snap.snapshotId)
    val todo = (0 until snap.buckets).filterNot(done.contains)
    var processed = Vector.empty[Int]
    todo.zipWithIndex.foreach { case (b, i) =>
      failBeforeBucket.foreach(k => if (i == k) throw new SimulatedFailure(b))
      val docs = ParquetSnapshotTable.readBucket(spark, snap, b)
      val verdicts = ValidationJob.withVerdicts(spark, docs, schemaJson)
      val out = s"$outDir/bucket=$b"
      // lineage metrics ride the write job via the Observation API — one
      // scan per bucket instead of write-then-aggregate reading twice. A sum
      // over an empty bucket is NULL, so each is coalesced to 0 here; any
      // other missing or non-long metric is a bug and fails the run.
      val obs = org.apache.spark.sql.Observation(s"graft_bucket_$b")
      def total(c: Column) = coalesce(sum(c), lit(0L))
      verdicts.drop("bucket")
        .repartition(filesPerBucket, pmod(hash(col("doc_num")), lit(filesPerBucket)))
        .sortWithinPartitions("doc_num") // deterministic file content
        .observe(obs,
          count(lit(1)).as("rows"),
          total(when(col("valid"), 1L).otherwise(0L)).as("pass"),
          total(when(col("valid"), 0L).otherwise(1L)).as("fail"),
          total(size(col("errors")).cast("long")).as("violations"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      val m = obs.get
      def l(k: String): Long = m.get(k) match {
        case Some(x: Long) => x
        case other => throw new IllegalStateException(
          s"bucket $b lineage metric '$k' is $other, expected a long")
      }
      checkpoint.record(checkpoint.BucketLineage(
        b, snap.snapshotId, l("rows"), l("pass"), l("fail"), l("violations"), out))
      processed :+= b
    }
    processed
  }
}
