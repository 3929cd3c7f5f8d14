package graft

import graft.engine.{GraftSession, Pipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry for the corpus-curation job — the training-data
  * counterpart of [[Main]]'s validation job.
  *
  * {{{
  * spark-submit --class graft.CurateMain jinxspark.jar \
  *   --sf-dir /root/testdata/sf0.01 --out /tmp/graft-curate \
  *   [--budget 2048] [--buckets 32] [--salt 0]
  * }}}
  *
  * Reads `documents.parquet`, runs quality filter → canonical exact dedup →
  * split assignment → train-split packing, writes each artifact as parquet
  * (curated corpus partitioned by split — the layout a trainer reads), and
  * prints a one-line JSON summary.
  */
object CurateMain {

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val sfDir = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
    val out = opts.getOrElse("out", "/tmp/graft-curate")
    val budget = opts.getOrElse("budget", "2048").toLong
    val buckets = opts.getOrElse("buckets", "32").toInt
    val salt = opts.getOrElse("salt", "0").toInt

    val spark = GraftSession.tune(SparkSession.builder())
      .appName("graft-curate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val run = Pipeline.curate(docs, "doc_id", "text", budget, buckets, salt)

    run.quality.write.mode("overwrite").parquet(s"$out/quality")
    run.clusters.write.mode("overwrite").parquet(s"$out/clusters")
    run.curated.write.mode("overwrite")
      .partitionBy("split").parquet(s"$out/curated")
    run.packed.write.mode("overwrite").parquet(s"$out/packed")

    val total = docs.count()
    val q = spark.read.parquet(s"$out/quality")
    val keptQ = q.where(col("keep")).count()
    val cur = spark.read.parquet(s"$out/curated")
    val bySplit = cur.groupBy("split").count().collect()
      .map(r => s""""${r.getString(0)}":${r.getLong(1)}""").sorted.mkString(",")
    val p = spark.read.parquet(s"$out/packed")
    // max over zero rows is NULL — a corpus where filtering/splitting leaves
    // no train docs must report 0 sequences, not NPE after all writes
    val seqs = Option(p.agg(max("last_seq")).collect()(0).get(0))
      .map(_.asInstanceOf[Long] + 1).getOrElse(0L)
    graft.engine.Caches.releaseAll()
    println(
      s"""{"docs":$total,"quality_kept":$keptQ,"curated":${cur.count()},""" +
      s""""splits":{$bySplit},"train_sequences":$seqs,"budget":$budget,"out":"$out"}""")
    spark.stop()
  }
}
