package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call across a layer boundary. Times are epoch milliseconds with a
  * fractional part, on the same clock as Spark's listener events. `req`
  * is the root span's id: every span of one timed operation shares it. */
final case class Span(id: Int, name: String, parent: Int, req: Int, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spark work a span started itself (not its children's). */
final class SparkWork {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Spans around the benchmark's calls into graft, plus a listener that
  * files every Spark job, stage and task under the span that submitted
  * it (a thread-local Spark property, inherited by the job). Recording
  * happens only while `on`; spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, listen: Boolean) {
  @volatile var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var nextId = 0
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now(): Double = epochOffsetMs + System.nanoTime() / 1e6

  private val work = mutable.HashMap.empty[Int, SparkWork]
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)] // (analysis start, planning ms)

  private object Listener extends SparkListener with QueryExecutionListener {
    private val jobSpan = mutable.HashMap.empty[Int, (Int, Double)]
    private val stageSpan = mutable.HashMap.empty[Int, Int]
    private def of(span: Int) = work.getOrElseUpdate(span, new SparkWork)

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
        val span = s.toInt
        jobSpan(e.jobId) = (span, e.time.toDouble)
        e.stageIds.foreach(stageSpan(_) = span)
        of(span).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, t0) => of(span).jobIntervals += ((t0, e.time.toDouble)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = of(span)
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    // analysis + optimization + planning of each query, filed later by
    // the span whose interval holds it (the callback carries no span)
    private def planned(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      val mine = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (mine.nonEmpty) plans += ((mine.map(_.startTimeMs).min.toDouble, mine.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
  }

  if (listen) {
    spark.sparkContext.addSparkListener(Listener)
    spark.listenerManager.register(Listener)
  }

  def apply[A](name: String)(f: => A): A = if (!on) f else {
    val sc = spark.sparkContext
    val id = synchronized { nextId += 1; nextId }
    val parent = open.headOption
    val started = Span(id, name, parent.map(_.id).getOrElse(-1), parent.map(_.req).getOrElse(id), now(), 0)
    val outer = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    open = started :: open
    try f
    finally {
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, outer)
      synchronized { spans += started.copy(end = now()) }
    }
  }

  /** All recorded spans, after every queued listener event is filed. */
  def finished(): Seq[Span] = {
    BenchBridge.drainListeners(spark.sparkContext)
    synchronized(spans.toList)
  }

  def workOf(span: Int): Option[SparkWork] = synchronized(work.get(span))

  def planMsWithin(s: Span): Double =
    synchronized(plans.collect { case (t, ms) if t >= s.start && t <= s.end => ms }.sum)
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Duration of `s` minus the part its direct children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.ms - covered(children.map(c => (c.start, c.end)), s.start, s.end)
}

/** CPU counters in ms: the whole JVM (`process`, clock-tick grained;
  * JIT compiler and GC threads included), the calling thread, and the
  * Spark tasks that finished (their run + deserialize CPU). */
final case class Cpu(process: Double, thread: Double, tasks: Double) {
  def -(o: Cpu): Cpu = Cpu(process - o.process, thread - o.thread, tasks - o.tasks)
  /** The work an operation did: the CPU of the client thread that ran it
    * plus that of the Spark tasks it started. The JVM's own compiler and
    * collector threads are left out, and so is time the host gave to
    * other processes, so it varies less than wall time on a shared host. */
  def work: Double = thread + tasks
}

/** Reads [[Cpu]] counters; a listener sums every task's CPU time. */
final class CpuMeter(spark: SparkSession) {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => taskNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))
  })

  /** Counters now, after every queued task event is counted. */
  def apply(): Cpu = {
    BenchBridge.drainListeners(spark.sparkContext)
    Cpu(Jvm.cpuMs(), Jvm.threadCpuMs(), taskNs.get / 1e6)
  }
}

/** JVM-wide counters: CPU per operation, GC and heap around the traced
  * window. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread) so far. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6
  def threadCpuMs(): Double = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e6

  /** Waits until the JIT compilers have finished nothing for `quietMs`
    * (at most `maxMs`), so that code the warm-up made hot is compiled
    * before the timed part however busy the host is; returns the seconds
    * waited. */
  def awaitJitIdle(quietMs: Long = 1000, maxMs: Long = 10000): Double = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var quietSince = t0
    while (System.nanoTime() - quietSince < quietMs * 1000000L && System.nanoTime() - t0 < maxMs * 1000000L) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection. The pause between two
    * collections lets Spark's cleaner drop blocks of unreachable frames. */
  def retainedMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
