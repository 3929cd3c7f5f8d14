package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * One driver thread drives the engine's public functions at local[cores],
  * closed loop: each call is submitted after the previous one returns.
  *
  *  - `--trace 0`: generate the inputs `SetupReps` times, run the
  *    workload's warm-up passes, then run passes of the chosen workload for
  *    `--seconds`, and print the end-to-end metrics.
  *  - `--trace 1`: with the span listener on, set up, warm up and trace one
  *    pass of every workload, so every per-layer metric is measured; then
  *    alternate untraced and traced passes of the chosen workload for
  *    `--seconds` to measure the tracing overhead.
  *
  * The last stdout line is the result JSON; span records and the run
  * environment are printed as JSON lines before it. */
object Bench {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int, source: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    try run(a)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    sys.exit(0)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("cores").toInt, m.getOrElse("source", "unknown"))
  }

  private def now(): Long = System.nanoTime()
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def run(a: Args): Unit = {
    val workload = Workloads.byName(a.workload)
    val t0 = now()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.files.minPartitionNum", Env.partitions(a.cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.hugeMethodLimit", graft.engine.GraftSession.hugeMethodLimit)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = since(t0)
    val env = new Env(spark, a.cores, a.seed)
    val tracer = new Tracer(spark.sparkContext)
    println(environment(spark, a))
    val result =
      if (a.trace) traced(env, tracer, a, workload)
      else untraced(env, tracer, a, workload, sessionS)
    spark.stop()
    println(result)
    System.out.flush()
  }

  private def environment(spark: SparkSession, a: Args): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    Out.obj("env" -> Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_flags" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "source_sha256" -> a.source,
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "closed_loop_clients" -> 1))
  }

  /** Closed loop: run passes until `seconds` have gone by and `enough`
    * holds; stop waiting for `enough` once 3 calls have failed. A pass whose
    * call threw ends early; that call is already counted as failed. */
  private def loop(calls: Calls, seconds: Double)(enough: => Boolean)(pass: => Unit): Unit = {
    val t0 = now()
    while (since(t0) < seconds || (!enough && calls.failed < 3))
      try pass catch { case _: CallFailed => () }
  }

  private def untraced(env: Env, tracer: Tracer, a: Args, w: Workload, sessionS: Double): String = {
    // set-up = session start + input generation + the warm-up passes; the
    // generation, which the seed drives, is repeated and its median taken
    var runner: Runner = null
    val genS = (1 to SetupReps).map { rep =>
      if (runner != null) runner.close()
      val t0 = now()
      runner = w.prepare(env, s"${a.work}/setup-$rep")
      since(t0)
    }
    val warm = new Calls(tracer)
    val t0 = now()
    warmUp(runner, warm)
    val warmS = since(t0)
    val calls = new Calls(tracer)
    val passes = mutable.ArrayBuffer[(Double, Double)]()
    loop(calls, a.seconds)(passes.nonEmpty) {
      val before = calls.spent
      runner.pass(calls)
      val passS = calls.spent - before
      passes += ((passS, runner.headline.map(calls.seconds).getOrElse(passS)))
    }
    runner.close()
    report(warm, calls)
    require(passes.nonEmpty, "no pass completed")
    val passS = passes.map(_._1)
    println(Out.obj("passes" -> passes.size,
      "pass_s" -> passS, "session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS,
      "error_rate" -> calls.failed.toDouble / calls.attempted))
    result(warm, calls, Seq(
      Metric("setup_s", sessionS + Out.median(genS) + warmS, "s"),
      Metric("pass_s", Out.median(passS), "s"),
      Metric("docs_per_s", runner.docs / Out.median(passes.map(_._2)), "docs/s"),
      Metric("peak_rss_mb", peakRssMb(), "MB")))
  }

  private def traced(env: Env, t: Tracer, a: Args, chosen: Workload): String = {
    val warm = new Calls(t)
    val calls = new Calls(t)
    t.enable(true)
    val runners = Workloads.all.map { w =>
      t.span(w.name) {
        val r = t.span("setup")(w.prepare(env, s"${a.work}/trace-${w.name}"))
        t.newTrace()
        t.span("warmup")(warmUp(r, warm))
        t.newTrace()
        try t.span("pass")(r.pass(calls)) catch { case _: CallFailed => () }
        w.name -> (r, r.layers(t, w.name))
      }
    }.toMap
    val codegenMs = t.spans.map(_.c.codegenMs).sum
    // tracing overhead: alternate untraced and traced passes of one workload
    val r = runners(chosen.name)._1
    val plain, withSpans = mutable.ArrayBuffer[Double]()
    loop(calls, a.seconds)(plain.nonEmpty && withSpans.nonEmpty) {
      val tracing = plain.size > withSpans.size
      t.enable(tracing)
      t.newTrace()
      val before = calls.spent
      t.span(s"${chosen.name}/overhead")(r.pass(calls))
      (if (tracing) withSpans else plain) += calls.spent - before
    }
    t.enable(false)
    runners.values.foreach(_._1.close())
    t.spans.foreach(s => println(s.json(t.originNs)))
    report(warm, calls)
    require(plain.nonEmpty && withSpans.nonEmpty, "no overhead pass completed")
    val overhead = Out.median(withSpans) / Out.median(plain) - 1
    println(Out.obj("overhead_passes" -> Map("untraced" -> plain, "traced" -> withSpans)))
    result(warm, calls,
      Workloads.all.flatMap(w => runners(w.name)._2) ++ Seq(
        Metric("codegen.compile_ms", codegenMs, "ms"),
        Metric("trace.overhead_share", overhead, "ratio")))
  }

  private def warmUp(r: Runner, warm: Calls): Unit =
    try r.warmUp(warm) catch { case _: CallFailed => () }

  private def report(warm: Calls, calls: Calls): Unit =
    (warm.problems.map("warm-up: " + _) ++ calls.problems).foreach(p => System.err.println(s"GATE FAILED $p"))

  private def result(warm: Calls, calls: Calls, metrics: Seq[Metric]): String =
    Out.obj(
      "correct" -> (warm.failed == 0 && calls.failed == 0),
      "attempted" -> calls.attempted,
      "failed" -> calls.failed,
      "metrics" -> Out.Raw(Out.obj(metrics.map(m =>
        m.name -> Out.Raw(Out.obj("value" -> m.value, "unit" -> m.unit))): _*)))

  /** Peak resident set of this JVM (Linux `VmHWM`). */
  private def peakRssMb(): Double = {
    val status = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    status.asScala.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
  }
}
