package ingestbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.model.IngestConfig
import graft.sink.MergeSink

/** Thrown by the [[Gate]] at the first sink call it stops, before the call
  * does any work: the micro-batch fails, so the target holds exactly the
  * batches whose sink calls completed. */
final class StopAfterDeadline extends RuntimeException("benchmark deadline reached")

/** Stop check at the MergeSink boundary of a stream: after the deadline,
  * or past `lastBatch` (a set-up that is not measured stops after its
  * warm-up batches). `before` runs on entry to the sink call of batch
  * `beforeBatch`, before the call does any work. */
final class Gate {
  @volatile var deadlineNs: Long = Long.MaxValue
  @volatile var lastBatch: Long = Long.MaxValue
  @volatile var beforeBatch: Long = -1L
  @volatile var before: () => Unit = () => ()
  def check(batchId: Long): Unit = {
    if (System.nanoTime() > deadlineNs || batchId > lastBatch) throw new StopAfterDeadline
    if (batchId == beforeBatch) before()
  }
}

/** One span: a trigger, a sink call, an op, a cycle or a Spark job. */
final case class Span(id: String, parent: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def ms: Double = endMs - startMs
}

/** A completed MergeSink call as seen from outside the program. */
final case class SinkCall(span: String, op: String, table: String,
    batchId: Long, startNs: Long, endNs: Long, startMs: Double, endMs: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory recorder shared by the timing decorator, the op wrappers and
  * the job listener. Spans stay in memory and are written out at the end. */
final class Recorder(val sc: SparkContext, val traced: Boolean) {
  val calls = new ConcurrentLinkedQueue[SinkCall]()
  private val seq = new AtomicInteger()
  /** Called after each sink call returns, on the calling thread (traced
    * runs list the target directory here). */
  @volatile var afterCall: SinkCall => Unit = _ => ()

  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Run `f` as span `id`: when tracing, its Spark jobs carry the id as a
    * local property, and the call site and job description a stream pins
    * on its thread are lifted, so each job and SQL execution reports the
    * program line that started it. */
  def scoped[A](id: String)(f: => A): A = {
    if (!traced) f
    else {
      val keys = Seq(Recorder.SpanKey, "callSite.short", "callSite.long", "spark.job.description")
      val prev = keys.map(sc.getLocalProperty)
      sc.setLocalProperty(Recorder.SpanKey, id)
      sc.clearCallSite()
      sc.setJobDescription(null)
      try f finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  def batchId: Long =
    Option(sc.getLocalProperty(Recorder.BatchKey)).map(_.toLong).getOrElse(-1L)

  def call[A](prefix: String, op: String, table: String)(f: => A): A = {
    val id = s"$prefix.call${seq.incrementAndGet()}"
    val ms0 = nowMs
    val t0 = System.nanoTime()
    val out = scoped(id)(f)
    val c = SinkCall(id, op, table, batchId, t0, System.nanoTime(), ms0, nowMs)
    calls.add(c)
    afterCall(c)
    out
  }
}

object Recorder {
  val SpanKey = "ingestbench.span"
  /** Set by Structured Streaming on the micro-batch thread and its jobs. */
  val BatchKey = "streaming.sql.batchId"
}

/** Timing decorator around the public MergeSink trait. `gate` is checked
  * on entry, before the inner sink sees the batch. */
final class TimedSink(inner: MergeSink, rec: Recorder, prefix: String,
    table: String, gate: Option[Gate]) extends MergeSink {
  private def run(op: String)(f: => Unit): Unit = {
    gate.foreach(_.check(rec.batchId))
    rec.call(prefix, op, table)(f)
  }
  override def mergeUpsert(batch: DataFrame, config: IngestConfig): Unit =
    run("mergeUpsert")(inner.mergeUpsert(batch, config))
  override def mergeSoftDelete(batch: DataFrame, config: IngestConfig): Unit =
    run("mergeSoftDelete")(inner.mergeSoftDelete(batch, config))
  override def mergeHardDelete(batch: DataFrame, config: IngestConfig): Unit =
    run("mergeHardDelete")(inner.mergeHardDelete(batch, config))
}

/** Per-stage task totals. */
final class StageAgg {
  var tasks = 0
  var tasksWithRows = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleReadRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  var inRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, submitMs: Long, var endMs: Long, callSite: String,
    span: Option[String], execution: Option[String], stageIds: Seq[Int])

/** SparkListener scoped by the span local property: every job, its
  * stages and task metrics, keyed so they can be summed per sink call. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  var jobStarts = 0
  var jobEnds = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += 1
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // a traced sink call lifts the stream's pinned call site, and Spark
    // then names the job's result stage after the program line
    val site = prop("callSite.short")
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
    require(!jobs.contains(e.jobId), s"job ${e.jobId} started twice")
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, site, prop(Recorder.SpanKey),
      prop("spark.sql.execution.id"), e.stageIds)
  }

  /** SQL execution id → the call site that started it. */
  val executions = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executions(x.executionId.toString) = x.description }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds += 1
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    Option(e.taskInfo).foreach(i => a.taskMs += i.duration)
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      if (m.shuffleReadMetrics.recordsRead > 0) a.tasksWithRows += 1
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      a.inRecords += m.inputMetrics.recordsRead
    }
  }

  /** Wait until every job event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.IngestBenchBus.drain(sc)

  def snapshot(): (Seq[JobRec], Map[Int, StageAgg], Map[String, String]) = synchronized {
    (jobs.values.toList, stages.toMap, executions.toMap)
  }
}

/** Order statistics used for every timing: the median and the highest
  * percentile that has at least ten samples beyond it. */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def p50(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** (percentile, value) of the tail with ≥ 10 samples beyond it, or None
    * when fewer than 20 samples support one above the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.size
    val q = Seq(0.999, 0.99, 0.95, 0.9, 0.75).find(q => (1 - q) * n >= 10)
    q.filter(_ > 0.5).map(q => (q * 100, pct(xs, q)))
  }

  /** Median, or 0 for a layer the workload does not run. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else p50(xs)
}

/** Heap in use after each garbage collection, from the JVM's GC
  * notifications: the heap pools' usage summed after every collection, so
  * a window's peak catches what a merge holds while it runs, not only what
  * is left when it ends. Listens from first use until the JVM exits. */
object HeapAfterGc extends javax.management.NotificationListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  /** (epoch ms the collection started, MB of heap in use after it) */
  private val samples = new ConcurrentLinkedQueue[(Long, Double)]()
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      samples.add((jvmStartMs + gc.getStartTime, used / 1048576.0))
    }

  /** A full collection; returns the heap in use after it, once its
    * notification has arrived (or the heap's usage right after it). */
  def collect(): Double = {
    val t = System.currentTimeMillis() - 1
    System.gc()
    val until = System.nanoTime() + 5000000000L
    def after = samples.asScala.filter(_._1 >= t)
    while (after.isEmpty && System.nanoTime() < until) Thread.sleep(5)
    after.lastOption.map(_._2).getOrElse(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** Highest heap-after-collection of the collections that started in
    * [fromMs, toMs], and how many there were. */
  def peak(fromMs: Double, toMs: Double): (Double, Int) = {
    val in = samples.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }.map(_._2)
    (in.maxOption.getOrElse(0.0), in.size)
  }
}
