package perfbench

import graft.engine._
import graft.schema.SchemaDoc
import graft.validate.{Options, Validator}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import Calls.{expect, same}

/** What every workload needs from the benchmark's session. */
final class Env(val spark: SparkSession, val cores: Int, val seed: Long) {
  /** Input files per table, and the fewest tasks a scan is split into
    * (`spark.sql.files.minPartitionNum`): eight per core, so a core that the
    * host slows down takes fewer tasks instead of holding up the stage. */
  def partitions: Int = Env.partitions(cores)
}

object Env {
  def partitions(cores: Int): Int = cores * 8
}

final case class Metric(name: String, value: Double, unit: String)

/** Outputs that must repeat exactly from pass to pass: the first value seen
  * under each name is the reference for the later ones. */
final class Repeats {
  private val seen = scala.collection.mutable.Map[String, Any]()
  def apply(what: String, got: Any): Seq[String] =
    same(s"$what vs first pass", got, seen.getOrElseUpdate(what, got))
}

/** One workload: the inputs it generates and the calls one pass makes. */
trait Workload {
  def name: String
  def prepare(env: Env, dir: String): Runner
}

/** A workload with its inputs generated, ready to run passes. */
trait Runner {
  /** Documents behind `docs_per_s`. */
  def docs: Long

  /** The call `docs_per_s` is measured on; `None` means the whole pass. */
  def headline: Option[String]

  /** One closed-loop pass: the workload's calls in order. */
  def pass(calls: Calls): Unit

  /** The passes run before timing starts: a fixed amount of work, so every
    * run times the same stage of JIT compilation. */
  def warmUp(calls: Calls): Unit = pass(calls)

  /** Traced run only: the layer probes, then the per-layer metrics read from
    * the spans of the last pass (named under `prefix`). */
  def layers(t: Tracer, prefix: String): Seq[Metric]

  /** The directory that holds this runner's inputs and outputs. */
  def dir: String

  def close(): Unit = Workloads.delete(dir)
}

object Workloads {
  val all: Seq[Workload] = Seq(ValidateColumnar, ValidateJsonl, MainJob, Sidecar)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))

  val schema: String = DocTable.docSchemaJson

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
    }
  }

  def fails: org.apache.spark.sql.Column = sum(when(col("valid"), 0L).otherwise(1L))

  /** Median milliseconds of `reps` runs of `f`. */
  def medianMs(reps: Int)(f: => Any): Double =
    Out.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
}

import Workloads.{fails, schema}

/** Columnar validation of the interleaved doc table, the paper's headline
  * path: verdict-only, then the full path (verdicts + errors) down to
  * violation rows. */
object ValidateColumnar extends Workload {
  val name = "validate_columnar"
  val n = 200000L

  /** Planning, task set-up and the driver's own code cost about a second
    * per pass whatever the table size, and keep getting cheaper for about
    * ten passes as the JIT compiles them. The warm-up runs those passes
    * over a table a twentieth the size, then one over the full table. */
  val warmupPasses = 10
  val warmupDocs: Long = n / 20

  def prepare(env: Env, dir0: String): Runner = new Runner {
    val dir = dir0
    private val spark = env.spark
    private val path = Inputs.writeDocTable(spark, env.seed, n, env.partitions, dir)
    private var failCount, violationRows = 0L
    val docs = n
    val headline = Some("violations")

    private def table = spark.read.parquet(path)

    def pass(calls: Calls): Unit = passOver(path, n, calls)

    override def warmUp(calls: Calls): Unit = {
      val warmPath =
        Inputs.writeDocTable(spark, env.seed, warmupDocs, env.partitions, s"$dir/warm")
      for (_ <- 1 to warmupPasses) passOver(warmPath, warmupDocs, calls)
      pass(calls)
    }

    private def passOver(path: String, n: Long, calls: Calls): Unit = {
      val table = spark.read.parquet(path)
      val v = calls("verdict_only") {
        ValidationJob.withVerdictsOnly(spark, table, schema)
          .agg(count(lit(1)), fails).collect()(0)
      } { r => same("verdict-only rows", r.getLong(0), n) }
      // the full path's own verdict counts ride the violations job as an
      // observation, so the table is validated once per call, not twice
      val (rows, _, _, _, _) = calls("violations") {
        val obs = Observation("full_path")
        val full = ValidationJob.withVerdicts(spark, table, schema)
          .observe(obs, count(lit(1)).as("rows"), fails.as("fails"),
            sum(size(col("errors")).cast("long")).as("errors"))
        val r = ValidationJob.violations(full)
          .agg(count(lit(1)), count_distinct(col("doc_num"))).collect()(0)
        val m = obs.get
        (r.getLong(0), r.getLong(1), m("rows").asInstanceOf[Long],
          m("fails").asInstanceOf[Long], m("errors").asInstanceOf[Long])
      } { case (rows, violators, fullRows, fullFails, errors) =>
        same("full-path rows", fullRows, n) ++
          same("full-path fails vs verdict-only fails", fullFails, v.getLong(1)) ++
          same("violation rows vs full-path error count", rows, errors) ++
          same("distinct violating docs vs verdict-only fails", violators, v.getLong(1)) ++
          expect(rows > 0, "no violations")
      }
      failCount = v.getLong(1)
      violationRows = rows
    }

    def layers(t: Tracer, prefix: String): Seq[Metric] = {
      t.span("scan") {
        table.select("doc_id", "spans").write.format("noop").mode("overwrite").save()
      }
      val compileMs = t.span("schema_compile") {
        Workloads.medianMs(25)(SchemaDoc.schema(schema))
      }
      val planMs = t.span("plan") {
        Workloads.medianMs(5)(
          ValidationJob.withVerdicts(spark, table, schema).queryExecution.executedPlan)
      }
      val p = s"$prefix/pass"
      val verdict = t.last(s"$p/verdict_only")
      val full = t.last(s"$p/violations")
      Seq(
        Metric("scan.docs_per_s", n / t.last(s"$prefix/scan").wallS, "docs/s"),
        Metric("schema.compile_ms", compileMs, "ms"),
        Metric("compiler.plan_ms", planMs, "ms"),
        Metric("verdict.docs_per_s", n / verdict.wallS, "docs/s"),
        Metric("verdict.cpu_s", verdict.cpuS, "s"),
        Metric("errors.cpu_s", full.cpuS - verdict.cpuS, "s"),
        Metric("validate.gc_s", full.gcS, "s"),
        Metric("violations.rows", violationRows.toDouble, "count"),
        Metric("verdict.fail_share", failCount.toDouble / n, "ratio"))
    }
  }
}

/** Raw JSON lines through the row core (`JsonLines.validateFile`): jinx's
  * own use. The same documents as the columnar table plus malformed lines,
  * so the verdicts are checked against the columnar path. */
object ValidateJsonl extends Workload {
  val name = "validate_jsonl"
  val n = 15000L
  /** The row core's pass time falls by about 40% over the first ten
    * passes as the JIT compiles it, and by a few percent more after. */
  val warmupPasses = 10

  def prepare(env: Env, dir0: String): Runner = new Runner {
    val dir = dir0
    private val spark = env.spark
    private val path = Inputs.writeJsonl(spark, env.seed, n, env.partitions, dir)
    private val malformed = Inputs.malformedLines(env.seed, n)
    // the columnar verdicts of the same documents, for the cross-path gate;
    // lazy, so only the runner that runs passes computes them
    private lazy val (colFails, colViolations) = {
      val r = ValidationJob.withVerdicts(spark,
          DocTable.fromBase(Inputs.base(spark, env.seed, n, env.partitions)), schema)
        .agg(fails, sum(size(col("errors")).cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    private var parseRows = 0L
    val docs = n + malformed
    val headline = Some("validate_file")

    override def warmUp(calls: Calls): Unit = for (_ <- 1 to warmupPasses) pass(calls)

    def pass(calls: Calls): Unit = {
      val isParse = exists(col("errors"), e => e.getField("keyword") === "parse")
      val r = calls("validate_file") {
        JsonLines.validateFile(spark, path, schema).agg(
          count(lit(1)), fails, sum(size(col("errors")).cast("long")),
          sum(when(isParse, 1L).otherwise(0L)),
          sum(when(isParse && size(col("errors")) =!= 1, 1L).otherwise(0L))).collect()(0)
      } { r =>
        same("lines", r.getLong(0), n + malformed) ++
          same("fails vs columnar fails + malformed", r.getLong(1), colFails + malformed) ++
          same("violations vs columnar violations + malformed", r.getLong(2),
            colViolations + malformed) ++
          same("lines with a parse violation", r.getLong(3), malformed) ++
          same("parse violations with other errors", r.getLong(4), 0L)
      }
      parseRows = r.getLong(3)
    }

    def layers(t: Tracer, prefix: String): Seq[Metric] = {
      t.span("text_scan") {
        spark.read.textFile(path).toDF().write.format("noop").mode("overwrite").save()
      }
      // single-thread per-document costs of the two row-core layers
      val (parseUs, coreUs) = t.span("row_core_sample") {
        val lines = spark.read.textFile(path).limit(2000).collect()
          .filter(l => scala.util.Try(graft.json.Json.parse(l)).isSuccess)
        val compiled = SchemaDoc.schema(schema)
        def timed[A](f: => A): (A, Double) = {
          val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e3)
        }
        lines.foreach(l => Validator.validate(compiled, graft.json.Json.parse(l), Options()))
        val parsed = lines.map(l => timed(graft.json.Json.parse(l)))
        val core = parsed.map { case (doc, _) =>
          timed(Validator.validate(compiled, doc, Options()))._2
        }
        (parsed.map(_._2).toSeq, core.toSeq)
      }
      val file = t.last(s"$prefix/pass/validate_file")
      Seq(
        Metric("text.scan_docs_per_s", docs / t.last(s"$prefix/text_scan").wallS, "docs/s"),
        Metric("json.parse_us_p50", Out.quantile(parseUs, 0.5), "us"),
        Metric("json.parse_us_p99", Out.quantile(parseUs, 0.99), "us"),
        Metric("validate.core_us_p50", Out.quantile(coreUs, 0.5), "us"),
        Metric("validate.core_us_p99", Out.quantile(coreUs, 0.99), "us"),
        Metric("rowcore.cpu_s", file.cpuS, "s"),
        Metric("rowcore.gc_s", file.gcS, "s"),
        Metric("rowcore.malformed_lines", parseRows.toDouble, "count"))
    }
  }
}

/** `graft.Main`'s phases called one by one: snapshot, checkpointed
  * validation and its resume, the table checks, and the summary. */
object MainJob extends Workload {
  val name = "main_job"
  val n = 40000L
  val buckets = 2

  def prepare(env: Env, dir0: String): Runner = new Runner {
    val dir = dir0
    private val spark = env.spark
    private val basePath = Inputs.writeBase(spark, env.seed, n, env.partitions, dir)
    // the summary must equal what the columnar path says about the same docs
    private val expected = {
      val r = ValidationJob.withVerdictsOnly(spark,
          DocTable.fromBase(spark.read.parquet(basePath)), schema)
        .agg(count(lit(1)), fails).collect()(0)
      (r.getLong(0), r.getLong(0) - r.getLong(1), r.getLong(1))
    }
    private val repeats = new Repeats
    private var passNo = 0
    private var lineageLines = 0L
    val docs = n
    val headline = None

    def pass(calls: Calls): Unit = {
      passNo += 1
      val out = s"$dir/job-$passNo"
      try run(calls, out) finally Workloads.delete(out)
    }

    private def run(calls: Calls, out: String): Unit = {
      val snap = calls("snapshot") {
        ParquetSnapshotTable.materialize(DocTable.fromBase(spark.read.parquet(basePath)),
          s"$out/table", "snap", "doc_id", buckets)
      } { _ => Nil }
      val checkpoint = new CheckpointManager(s"$out/checkpoint")
      val lineage = Paths.get(s"$out/checkpoint/lineage.jsonl")
      calls("ckpt") {
        CheckpointedValidation.run(spark, snap, schema, s"$out/verdicts", checkpoint)
      } { done =>
        val lines = Files.readAllLines(lineage).asScala.toSeq
        lineageLines = lines.size.toLong
        val rows = lines.map(l => """"rows": (\d+)""".r.findFirstMatchIn(l).map(_.group(1).toLong))
        same("buckets processed", done, 0 until buckets) ++
          same("lineage lines", lines.size, buckets) ++
          same("lineage rows", rows.flatten.sum, n)
      }
      calls("resume") {
        CheckpointedValidation.run(spark, snap, schema, s"$out/verdicts", checkpoint)
      } { done => same("buckets processed on resume", done.size, 0) }
      val docs = ParquetSnapshotTable.readAll(spark, snap)
      def rows(dir: String) = spark.read.parquet(s"$out/$dir").collect().toSeq
      calls("dupkeys") {
        Checks.duplicateKeys(docs, "doc_id").write.mode("overwrite").parquet(s"$out/dup_doc_ids")
      } { _ =>
        val dup = rows("dup_doc_ids")
        expect(dup.nonEmpty, "no duplicate keys") ++ repeats("duplicate keys", dup)
      }
      calls("refcheck") {
        Checks.danglingRefs(
          docs.select(explode(col("spans")).as("s")).select(col("s.media_ref").as("media_ref")),
          "media_ref", DocTable.mediaCatalog(spark), "media_ref")
          .write.mode("overwrite").parquet(s"$out/dangling_refs")
      } { _ =>
        val dangling = rows("dangling_refs")
        expect(dangling.nonEmpty, "no dangling refs") ++ repeats("dangling refs", dangling)
      }
      calls("profile") {
        Checks.profile(docs.select(size(col("spans")).as("n_spans")), Seq("n_spans"))
          .write.mode("overwrite").parquet(s"$out/stats")
      } { _ =>
        val stats = rows("stats")
        same("profiled rows", stats.map(_.getAs[Long]("total_count")), Seq(n)) ++
          repeats("profile", stats)
      }
      calls("summary") {
        val r = spark.read.parquet(s"$out/verdicts/bucket=*").agg(
          count(lit(1)), sum(when(col("valid"), 1L).otherwise(0L)), fails).collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      } { got => same("summary (docs, pass, fail) vs columnar", got, expected) }
    }

    def layers(t: Tracer, prefix: String): Seq[Metric] = {
      val p = s"$prefix/pass"
      val snap = t.last(s"$p/snapshot")
      val ckpt = t.last(s"$p/ckpt")
      val dup = t.last(s"$p/dupkeys")
      Seq(
        Metric("snapshot.s", snap.wallS, "s"),
        Metric("snapshot.shuffle_write_mb", Out.mb(snap.c.shuffleWriteBytes), "MB"),
        Metric("snapshot.bytes_written_mb", Out.mb(snap.c.outputBytes), "MB"),
        Metric("ckpt.s", ckpt.wallS, "s"),
        Metric("ckpt.jobs", ckpt.c.jobs.toDouble, "count"),
        Metric("ckpt.core_busy_share", ckpt.c.runMs / 1e3 / (ckpt.wallS * env.cores), "ratio"),
        Metric("ckpt.lineage_lines", lineageLines.toDouble, "count"),
        Metric("ckpt.resume_noop_ms", t.last(s"$p/resume").wallS * 1e3, "ms"),
        Metric("checks.dupkeys_s", dup.wallS, "s"),
        Metric("checks.dupkeys_shuffle_mb", Out.mb(dup.c.shuffleWriteBytes), "MB"),
        Metric("checks.refcheck_s", t.last(s"$p/refcheck").wallS, "s"),
        Metric("checks.profile_s", t.last(s"$p/profile").wallS, "s"),
        Metric("summary.s", t.last(s"$p/summary").wallS, "s"))
    }
  }
}

/** The curation sidecar's shuffle-heavy operators, which validation skips:
  * winnowing and MinHash near-dup pairs, connected components, and
  * quantile-sketch drift. */
object Sidecar extends Workload {
  val name = "sidecar"
  val n = 800L

  def prepare(env: Env, dir0: String): Runner = new Runner {
    val dir = dir0
    private val spark = env.spark
    private val path = Inputs.writeTwins(spark, env.seed, n, env.partitions, dir)
    val docs = spark.read.parquet(path).count()
    val headline = None
    private val repeats = new Repeats
    private var winnowPairs = 0L

    private def corpus = spark.read.parquet(path)

    def pass(calls: Calls): Unit = {
      val text = corpus.select("doc_id", "text")
      val winnow = calls("winnow") {
        try Dedup.winnowPairs(text, "doc_id", "text", minShared = 8, maxBucket = 512).count()
        finally Caches.releaseAll()
      } { c => expect(c > 0, "no winnow pairs") ++ repeats("winnow pairs", c) }
      val (pairs, _) = calls("minhash") {
        try {
          val p = Dedup.minhashPairs(text, "doc_id", "text", threshold = 0.5).localCheckpoint()
          (p, p.count())
        } finally Caches.releaseAll()
      } { case (_, c) => expect(c > 0, "no minhash pairs") ++ repeats("minhash pairs", c) }
      calls("components") {
        Dedup.components(pairs)
          .agg(count(lit(1)), count_distinct(col("component"))).collect()(0)
      } { r => repeats("(nodes, clusters)", (r.getLong(0), r.getLong(1))) }
      calls("drift") {
        val half = pmod(col("doc_id"), lit(2L)) === 0
        val ref = TypedAggregators.sketchColumn(corpus.where(half), "n_chars")
        val cur = TypedAggregators.sketchColumn(corpus.where(!half), "n_chars")
        (QuantileSketch.ks(ref, cur), QuantileSketch.psi(ref, cur), ref.count + cur.count)
      } { case (ks, psi, count) =>
        expect(ks >= 0 && ks <= 1, s"KS $ks outside [0, 1]") ++
          expect(psi >= 0 && !psi.isInfinite, s"PSI $psi not finite and non-negative") ++
          same("sketched values", count, docs)
      }
      winnowPairs = winnow
    }

    def layers(t: Tracer, prefix: String): Seq[Metric] = {
      val p = s"$prefix/pass"
      val winnow = t.last(s"$p/winnow")
      val components = t.last(s"$p/components")
      Seq(
        Metric("dedup.winnow_s", winnow.wallS, "s"),
        Metric("dedup.winnow_shuffle_records", winnow.c.shuffleWriteRecords.toDouble, "count"),
        Metric("dedup.winnow_pair_yield",
          winnowPairs.toDouble / math.max(1L, winnow.c.shuffleWriteRecords), "ratio"),
        Metric("dedup.winnow_peak_exec_mem_mb", Out.mb(winnow.c.peakExecMemBytes), "MB"),
        Metric("dedup.minhash_s", t.last(s"$p/minhash").wallS, "s"),
        Metric("dedup.components_s", components.wallS, "s"),
        Metric("dedup.components_jobs", components.c.jobs.toDouble, "count"),
        Metric("sketch.drift_s", t.last(s"$p/drift").wallS, "s"))
    }
  }
}
