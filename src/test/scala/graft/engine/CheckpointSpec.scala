package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Resumability: an interrupted run resumed to completion produces output
  * identical to an uninterrupted run, and completed buckets are skipped. */
class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("snapshot materialize + bucket read are partition-pruned and complete") {
    val docs = DocTable.docs(spark, sfDir)
    val root = tmp("graft-snap")
    val snap = ParquetSnapshotTable.materialize(docs, root, "s1", "doc_id", 8)
    val all = ParquetSnapshotTable.readAll(spark, snap)
    assert(all.count() === docs.count())
    val perBucket = (0 until 8).map(b =>
      ParquetSnapshotTable.readBucket(spark, snap, b).count()).sum
    assert(perBucket === docs.count())
    // manifest exists and names the snapshot
    val manifest = Files.readString(java.nio.file.Paths.get(s"$root/_graft_manifest_s1.json"))
    assert(manifest.contains("\"snapshot_id\": \"s1\""))
    // partition pruning: per-bucket plan must read only its directory
    val plan = ParquetSnapshotTable.readBucket(spark, snap, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bucket"), plan.take(400))
  }

  test("interrupted run resumes, skips completed buckets, byte-identical result") {
    val docs = DocTable.docs(spark, sfDir)
    val root = tmp("graft-snap2")
    val snap = ParquetSnapshotTable.materialize(docs, root, "s2", "doc_id", 6)

    // Reference: uninterrupted run
    val outA = tmp("graft-outA")
    val cpA = new CheckpointManager(tmp("graft-cpA"))
    val fullRun = CheckpointedValidation.run(spark, snap, DocTable.docSchemaJson, outA, cpA)
    assert(fullRun === (0 until 6))

    // Interrupted run: dies before the 3rd bucket
    val outB = tmp("graft-outB")
    val cpBdir = tmp("graft-cpB")
    val cpB = new CheckpointManager(cpBdir)
    intercept[CheckpointedValidation.SimulatedFailure] {
      CheckpointedValidation.run(spark, snap, DocTable.docSchemaJson, outB, cpB,
        failBeforeBucket = Some(3))
    }
    assert(cpB.completedBuckets("s2").size === 3)

    // capture mtimes of completed outputs, then resume with a fresh manager
    val doneDirs = (0 until 6).map(b => new java.io.File(s"$outB/bucket=$b"))
    val mtimesBefore = doneDirs.take(3).map(_.lastModified())
    val resumed = CheckpointedValidation.run(
      spark, snap, DocTable.docSchemaJson, outB, new CheckpointManager(cpBdir))
    assert(resumed.size === 3, s"resume must process only remaining buckets, got $resumed")
    assert(doneDirs.take(3).map(_.lastModified()) === mtimesBefore,
      "completed bucket outputs must not be rewritten on resume")

    // final outputs identical
    def slurp(dir: String) = spark.read.parquet(s"$dir/bucket=*")
      .select(col("doc_num"), col("doc_id"), col("valid"), size(col("errors")).as("nerr"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(slurp(outA).toSeq === slurp(outB).toSeq)

    // lineage metrics (observed during the write) match the written data
    val lineage = Files.readAllLines(
      java.nio.file.Paths.get(cpBdir, "lineage.jsonl"))
    assert(lineage.size === 6)
    val written = spark.read.parquet(s"$outB/bucket=*")
    val totRows = written.count()
    val totPass = written.where(col("valid")).count()
    def sumField(k: String): Long = lineage.toArray.map(_.toString)
      .map(l => s""""$k": (\\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
    assert(sumField("rows") === totRows)
    assert(sumField("pass_count") === totPass)
    assert(sumField("fail_count") === totRows - totPass)
  }

  test("a bucket with no docs records 0/0/0/0 lineage and the run completes") {
    // 4 buckets over 2 docs: hash-mod leaves at least 2 buckets empty,
    // where the observed sums are NULL and must come back as 0
    val docs = DocTable.docs(spark, sfDir).orderBy("doc_num").limit(2)
    val root = tmp("graft-snap-empty")
    val snap = ParquetSnapshotTable.materialize(docs, root, "s3", "doc_id", 4)
    val cpDir = tmp("graft-cp-empty")
    val processed = CheckpointedValidation.run(
      spark, snap, DocTable.docSchemaJson, tmp("graft-out-empty"), new CheckpointManager(cpDir))
    assert(processed === (0 until 4))
    val lineage = Files.readAllLines(java.nio.file.Paths.get(cpDir, "lineage.jsonl"))
      .toArray.map(_.toString)
    assert(lineage.length === 4)
    def field(l: String, k: String): Long =
      s""""$k": (\\d+)""".r.findFirstMatchIn(l).get.group(1).toLong
    val metrics = Seq("rows", "pass_count", "fail_count", "violations")
    val empty = lineage.filter(field(_, "rows") == 0L)
    assert(empty.nonEmpty)
    empty.foreach(l => assert(metrics.map(field(l, _)) === Seq(0L, 0L, 0L, 0L), l))
    assert(lineage.map(field(_, "rows")).sum === 2L)
  }
}
