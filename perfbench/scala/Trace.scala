package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark's side of
  * the boundary. `parent` is 0 for a root span; spans of one request
  * share `req`. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Off by default: the end-to-end numbers are
  * measured with it off, and a separate traced run turns it on. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val reqs = new AtomicLong()
  // (current span id, current request id) of this thread
  private val cur = ThreadLocal.withInitial[(Long, Long)](() => (0L, 0L))

  def newRequest(): Long = reqs.incrementAndGet()

  /** Run `body` as request `req`: spans opened inside carry its id. */
  def inRequest[T](req: Long)(body: => T): T = {
    val saved = cur.get
    cur.set((saved._1, req))
    try body finally cur.set(saved)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val (parent, req) = cur.get
      val id = ids.incrementAndGet()
      cur.set((id, req))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, req, t0, System.nanoTime()))
        cur.set((parent, req))
      }
    }

  def all: Seq[Span] = { val b = Seq.newBuilder[Span]; spans.forEach(b += _); b.result() }

  /** Self time of every span: its duration minus the part of it that
    * its children's intervals cover (children of one span run on the
    * span's own thread, one after another, so they never overlap). */
  def selfMs(ss: Seq[Span]): Map[Long, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map { c =>
        math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
      }.sum
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Write every span as one JSON line, with its self time. */
  def write(path: String): Unit = {
    val ss = all.sortBy(_.startNs)
    val self = selfMs(ss)
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try ss.foreach { s =>
      w.println(f"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        f""""req": ${s.req}, "start_ms": ${(s.startNs - t0) / 1e6}%.4f, """ +
        f""""end_ms": ${(s.endNs - t0) / 1e6}%.4f, "self_ms": ${self(s.id)}%.4f}""")
    } finally w.close()
  }

  /** name → (calls, median ms, median self ms) over the recorded spans. */
  def summary: Map[String, (Int, Double, Double)] = {
    val ss = all
    val self = selfMs(ss)
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> ((xs.size, Stats.median(xs.map(_.ms)), Stats.median(xs.map(s => self(s.id)))))
    }
  }
}

/** Spark's own bookkeeping, summed from the listener bus: job, stage and
  * task counts plus the task metrics the execution layer reports. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, schedMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, input = new LongAdder
  private val peakMem = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      // scheduler delay as Spark's UI derives it: wall time of the task
      // not spent deserializing, running or serializing its result
      val i = e.taskInfo
      schedMs.add(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
    }
  }

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.sum.toDouble,
    "spark.stages" -> stages.sum.toDouble,
    "spark.tasks" -> tasks.sum.toDouble,
    "spark.task_run_ms" -> runMs.sum.toDouble,
    "spark.task_cpu_ms" -> cpuNs.sum / 1e6,
    "spark.sched_delay_ms" -> schedMs.sum.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "spark.spill_bytes" -> spill.sum.toDouble,
    "spark.input_bytes" -> input.sum.toDouble,
    "spark.peak_exec_mem_bytes" -> peakMem.get.toDouble,
    "spark.codegen_compiles" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "spark.codegen_ms" ->
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime / 1e6)
}

object SparkCounters {
  /** The per-unit difference of two snapshots; the peak is not a sum,
    * so it is kept as the later reading. */
  def perUnit(before: Map[String, Double], after: Map[String, Double],
      units: Double): Map[String, Double] =
    after.map { case (k, v) =>
      k -> (if (k == "spark.peak_exec_mem_bytes") v
            else (v - before(k)) / math.max(units, 1.0))
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      s(lo) + (s(math.ceil(pos).toInt) - s(lo)) * (pos - lo)
    }

  /** Mean of the faster half (the median too, for an odd count): a
    * trimmed minimum, steadier than the median against runs slowed by a
    * collection or another process. */
  def lowMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val k = (s.size + 1) / 2
    s.take(k).sum / k
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(x)).sum / xs.size)
}
