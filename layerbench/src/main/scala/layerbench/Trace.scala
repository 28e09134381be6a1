package layerbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `layer` is the program module (or Spark layer) the
  * call went into, `parent` the span that caused it (0 = none). Times are
  * nanoseconds since the recorder started. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long)

/** Spans recorded from the harness side around each call into a layer.
  *
  * Call totals per layer are always kept (two adds per call); the spans
  * themselves, the Spark local property that parents Spark jobs to them,
  * and everything in [[SparkTracer]] exist only in a traced run. */
final class Recorder(val tracing: Boolean) {
  val t0: Long = System.nanoTime()
  val wall0: Long = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val totals = new ConcurrentHashMap[String, (LongAdder, LongAdder)]()
  @volatile var sc: SparkContext = _

  def now: Long = System.nanoTime() - t0
  def current: Long = stack.get.headOption.getOrElse(0L)

  private def parentProperty(id: Long): Unit =
    if (sc != null) sc.setLocalProperty(SpanProperty, id.toString)

  def span[T](layer: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    val start = now
    if (tracing) { stack.set(id :: stack.get); parentProperty(id) }
    try body
    finally {
      val end = now
      val (t, n) = totals.computeIfAbsent(layer, _ => (new LongAdder, new LongAdder))
      t.add(end - start); n.increment()
      if (tracing) {
        stack.set(stack.get.tail)
        parentProperty(parent)
        spans.add(Span(id, parent, layer, name, start, end))
      }
    }
  }

  /** (milliseconds, calls) spent in `layer` since the last [[resetTotals]]. */
  def total(layer: String): (Double, Long) =
    Option(totals.get(layer)).map { case (t, n) => (t.sum / 1e6, n.sum) }
      .getOrElse((0.0, 0L))

  def resetTotals(): Unit = totals.clear()

  /** Spark epoch-millisecond stamps on the recorder's clock. */
  def fromEpochMs(ms: Long): Long = (ms - wall0) * 1000000L

  val SpanProperty = "layerbench.span"
}

final case class Job(id: Int, parent: Long, start: Long, var end: Long,
                     stages: Seq[Int])
final case class Stage(id: Int, start: Long, end: Long, tasks: Int)

/** Spark's public listeners, attached from the benchmark's own files in a
  * traced run: scheduler (jobs, stages, tasks), executor and shuffle task
  * metrics, Catalyst phase times, and streaming trigger progress. */
final class SparkTracer(rec: Recorder) extends SparkListener
    with QueryExecutionListener {

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val taskTimes = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val sums = new ConcurrentHashMap[String, LongAdder]()
  private val peakTaskMem = new AtomicLong(0)
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private def add(k: String, v: Long): Unit =
    sums.computeIfAbsent(k, _ => new LongAdder).add(v)
  def sum(k: String): Long = Option(sums.get(k)).map(_.sum).getOrElse(0L)
  def peakTaskMemBytes: Long = peakTaskMem.get

  def reset(): Unit = {
    jobs.clear(); stages.clear(); taskTimes.clear(); sums.clear()
    peakTaskMem.set(0); progress.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(rec.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, Job(e.jobId, parent, rec.fromEpochMs(e.time), -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = rec.fromEpochMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(Stage(i.stageId, rec.fromEpochMs(s), rec.fromEpochMs(c), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue())
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("executor.deserialize_ms", m.executorDeserializeTime)
      add("executor.gc_ms", m.jvmGCTime)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("io.input_bytes", m.inputMetrics.bytesRead)
      peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, p) => add(s"plan.${phase}_ms", p.durationMs) }
    add("plan.executions", 1)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((e.progress.numInputRows,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }
}

/** JVM-wide counters read from the JMX beans and Spark's codegen metrics;
  * [[delta]] is the change since construction. */
final class JvmCounters {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def compileNs =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def classes =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val start = (gcMs, jitMs, compileNs, classes)

  // heap left in use after each collection; its maximum is the peak the
  // program needed, free of when the young generation happened to be full
  private val liveMax = new AtomicLong(0)
  private val gcListener: javax.management.NotificationListener = (n, _) =>
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
      liveMax.accumulateAndGet(used, math.max)
    }
  private lazy val heapNames = heapPools.map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(gcListener, null, null))

  /** Largest heap in use right after a collection since construction, in
    * MB (0 when no collection ran). */
  def heapLiveMaxMb: Double = liveMax.get / 1048576.0

  def close(): Unit = emitters.foreach(_.removeNotificationListener(gcListener))

  /** Sum of the heap pools' peaks since construction, in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def delta: Map[String, Double] = Map(
    "jvm.gc_ms" -> (gcMs - start._1).toDouble,
    "jvm.jit_ms" -> (jitMs - start._2).toDouble,
    "codegen.compile_ms" -> (compileNs - start._3) / 1e6,
    "codegen.classes" -> (classes - start._4).toDouble)
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start) - covered(c, s.start, s.end)
      }.sum / 1e6
    }
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
