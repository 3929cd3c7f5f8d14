package graft

import graft.engine._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry: the end-to-end validation + data-quality job
  * (SURVEY.md §7 step 8).
  *
  * {{{
  * spark-submit --class graft.Main jinxspark.jar \
  *   --sf-dir /root/testdata/sf0.01 --out /tmp/graft-run \
  *   --buckets 32 [--replicate 1] [--snapshot <id>] [--resume]
  * }}}
  *
  * Pipeline: synthesize/read the interleaved doc table → materialize a
  * bucket-partitioned snapshot → checkpointed per-bucket validation (resume
  * skips completed buckets) → uniqueness / referential / stats / drift
  * checks → summary JSON on stdout. On a cluster the same binary runs
  * unchanged — parallelism comes from the scheduler, all state lives in the
  * snapshot dir + checkpoint manifest.
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
    val out = opts.getOrElse("out", "/tmp/graft-run")
    val buckets = opts.getOrElse("buckets", "32").toInt
    val replicate = opts.getOrElse("replicate", "1").toInt
    val snapshotId = opts.getOrElse("snapshot", s"snap-${new java.io.File(sfDir).getName}-x$replicate")

    val spark = GraftSession.tune(SparkSession.builder())
      .appName("graft-validation")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. snapshot the input table (bucket-partitioned; idempotent per id)
    val snapRoot = s"$out/table"
    val snapDone = new java.io.File(s"$snapRoot/_graft_manifest_$snapshotId.json").exists()
    val snap =
      if (snapDone) TableSnapshot(snapRoot, snapshotId, buckets)
      else ParquetSnapshotTable.materialize(
        DocTable.docs(spark, sfDir, replicate), snapRoot, snapshotId, "doc_id", buckets)

    // 2. checkpointed validation (resumable)
    val checkpoint = new CheckpointManager(s"$out/checkpoint")
    val processed = CheckpointedValidation.run(
      spark, snap, DocTable.docSchemaJson, s"$out/verdicts", checkpoint)

    // 3. table-level checks over the snapshot
    val docs = ParquetSnapshotTable.readAll(spark, snap)
    Checks.duplicateKeys(docs, "doc_id")
      .write.mode("overwrite").parquet(s"$out/dup_doc_ids")
    Checks.danglingRefs(
      docs.select(explode(col("spans")).as("s")).select(col("s.media_ref").as("media_ref")),
      "media_ref", DocTable.mediaCatalog(spark), "media_ref")
      .write.mode("overwrite").parquet(s"$out/dangling_refs")
    Checks.profile(docs.select(size(col("spans")).as("n_spans")), Seq("n_spans"))
      .write.mode("overwrite").parquet(s"$out/stats")

    // 4. summary
    val verdicts = spark.read.parquet(s"$out/verdicts/bucket=*")
    val row = verdicts.agg(
      count(lit(1)), sum(when(col("valid"), 1L).otherwise(0L)),
      sum(when(col("valid"), 0L).otherwise(1L))).collect()(0)
    println(
      s"""{"snapshot":"$snapshotId","buckets":$buckets,"processed_this_run":${processed.size},""" +
      s""""docs":${row.getLong(0)},"pass":${row.getLong(1)},"fail":${row.getLong(2)},"out":"$out"}""")
    spark.stop()
  }
}
