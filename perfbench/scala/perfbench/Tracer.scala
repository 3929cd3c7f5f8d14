package perfbench

import java.util.Properties
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scheduler and codegen counters attributed to one span (its own work, not
  * its children's). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, shuffleReadRecords = 0L
  var spillBytes, peakExecMemBytes, inputBytes, outputBytes = 0L
  var codegenCompiles = 0L
  var codegenMs = 0.0
}

/** A closed span. `name` is the full path from the root span, e.g.
  * `validate_columnar/pass/verdict_only`; spans of one pass share `trace`. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    startNs: Long, endNs: Long, childNs: Long, c: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
  def cpuS: Double = c.cpuNs / 1e9
  def gcS: Double = c.gcMs / 1e3

  def json(originNs: Long): String = Out.obj(
    "span" -> name, "id" -> id, "parent" -> parent, "trace" -> trace,
    "start_ms" -> (startNs - originNs) / 1e6, "end_ms" -> (endNs - originNs) / 1e6,
    "wall_s" -> wallS, "self_s" -> selfS,
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "run_s" -> c.runMs / 1e3, "cpu_s" -> cpuS, "gc_s" -> gcS,
    "shuffle_write_mb" -> Out.mb(c.shuffleWriteBytes),
    "shuffle_write_records" -> c.shuffleWriteRecords,
    "shuffle_read_mb" -> Out.mb(c.shuffleReadBytes),
    "shuffle_read_records" -> c.shuffleReadRecords,
    "spill_mb" -> Out.mb(c.spillBytes),
    "peak_exec_mem_mb" -> Out.mb(c.peakExecMemBytes),
    "input_mb" -> Out.mb(c.inputBytes), "output_mb" -> Out.mb(c.outputBytes),
    "codegen_compiles" -> c.codegenCompiles, "codegen_ms" -> c.codegenMs)
}

/** Span recorder for the traced run.
  *
  * While enabled it is a registered SparkListener: every job and stage is
  * attributed to the span open on the driver thread when the job was
  * submitted, carried as a job-local property, and every task to its stage's
  * span. On closing a span the listener bus is drained, so the counters are
  * complete before the next call starts. Whole-stage codegen compile time
  * comes from Spark's `CodegenMetrics` histogram, read before and after.
  *
  * Disabled, `span` only runs its body: the untraced runs that give the
  * end-to-end metrics pay nothing for it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private final class Open(val id: Int, val name: String, var childNs: Long,
      var childCgN: Long, var childCgMs: Double)
  private var stack = List.empty[Open]
  private var nextId = 0
  private var trace = 0
  val spans = mutable.ArrayBuffer[Span]()
  val originNs: Long = System.nanoTime()
  private var on = false

  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) sc.addSparkListener(this) else sc.removeSparkListener(this)
    on = flag
  }

  /** Start a new trace id: one per pass. */
  def newTrace(): Unit = trace += 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; counters(nextId) = new Counters; nextId }
      val full = stack.headOption.map(_.name + "/").getOrElse("") + name
      val open = new Open(id, full, 0L, 0L, 0.0)
      val parent = stack.headOption
      stack = open :: stack
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      val (cgN0, cgMs0) = Tracer.codegenTotals()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Key, prev)
        stack = stack.tail
        PerfbenchBus.drain(sc)
        val (cgN1, cgMs1) = Tracer.codegenTotals()
        val c = synchronized(counters(id))
        c.codegenCompiles = cgN1 - cgN0 - open.childCgN
        c.codegenMs = cgMs1 - cgMs0 - open.childCgMs
        parent.foreach { p =>
          p.childNs += t1 - t0
          p.childCgN += cgN1 - cgN0
          p.childCgMs += cgMs1 - cgMs0
        }
        spans += Span(id, full, parent.map(_.id).getOrElse(0), trace, t0, t1, open.childNs, c)
      }
    }

  /** The last closed span with this full name. */
  def last(name: String): Span =
    spans.findLast(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no span named $name"))

  private def spanOf(props: Properties): Option[Counters] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).flatMap(k => counters.get(k.toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .foreach(k => stageSpan(e.stageInfo.stageId) = k.toInt)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).flatMap(counters.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); c <- counters.get(id)) {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Tracer {

  /** (compiles, total compile ms) so far in this JVM. The histogram keeps
    * every sample until it holds more than its reservoir (1028); past that
    * the total is estimated as mean × count. */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    val total = if (n <= s.size) s.getValues.map(_.toDouble).sum else s.getMean * n
    (n, total)
  }
}
