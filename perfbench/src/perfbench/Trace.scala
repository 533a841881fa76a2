package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the enclosing span (-1 at the top). Times are
  * nanoseconds since the measured window opened. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Everything the measured phase records. Operations, with the read,
  * write and maintenance latencies inside them, are always recorded;
  * spans and counters only in a traced run. Spans are kept in memory and
  * written out when the run ends. */
object Trace {
  @volatile var enabled = false
  @volatile private var measuring = false
  @volatile private var t0Ns = 0L
  @volatile var windowStartMs = 0L
  @volatile var windowEndMs = Long.MaxValue

  private val nextId = new AtomicInteger(0)
  private val nextOp = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  final case class OpRecord(id: Int, kind: String, ok: Boolean, ms: Double,
                            reads: Seq[Double], writes: Seq[Double],
                            maintains: Seq[Double], error: String)
  val ops = new ConcurrentLinkedQueue[OpRecord]()

  def open(): Unit = {
    t0Ns = System.nanoTime()
    windowStartMs = System.currentTimeMillis()
    measuring = true
  }
  def close(): Unit = {
    measuring = false
    windowEndMs = System.currentTimeMillis()
  }
  def isMeasuring: Boolean = measuring
  def nowNs: Long = System.nanoTime() - t0Ns

  def count(name: String, n: Long): Unit =
    if (enabled && measuring)
      counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(n)
  def counterSnapshot: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.get }.toMap

  private def addSpan(parent: Int, op: Int, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && measuring) spans.add(Span(nextId.incrementAndGet(), parent, op, name, startNs, endNs))

  /** Run one operation. Its latency and sub-samples are kept only when
    * it completes; a throwing operation is recorded as failed, with its
    * error, and contributes to no latency or rate. */
  def op(kind: String)(body: Op => Unit): Boolean = {
    val o = new Op(nextOp.incrementAndGet())
    val start = System.nanoTime()
    val ok =
      try { o.span(kind)(body(o)); true }
      catch {
        case NonFatal(e) =>
          if (measuring) ops.add(OpRecord(o.id, kind, ok = false, 0, Nil, Nil, Nil,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
          false
      }
    if (ok && measuring)
      ops.add(OpRecord(o.id, kind, ok = true, (System.nanoTime() - start) / 1e6,
        o.reads.toSeq, o.writes.toSeq, o.maintains.toSeq, null))
    ok
  }

  /** Context of one operation: a span stack and the latency samples
    * taken inside it. Operations run on one thread each. */
  final class Op(val id: Int) {
    private val stack = ArrayBuffer[Int](-1)
    val reads = ArrayBuffer[Double]()
    val writes = ArrayBuffer[Double]()
    val maintains = ArrayBuffer[Double]()

    def span[A](name: String)(body: => A): A = {
      val id0 = nextId.incrementAndGet()
      val s = nowNs
      stack += id0
      try body
      finally {
        stack.remove(stack.size - 1)
        if (enabled && measuring)
          spans.add(Span(id0, stack.last, id, name, s, nowNs))
      }
    }
    /** A span that started at `startNs` (from [[Trace.nowNs]]) and ends now. */
    def mark(name: String, startNs: Long): Unit =
      addSpan(stack.last, id, name, startNs, nowNs)

    private def timed[A](into: ArrayBuffer[Double], name: String)(body: => A): A = {
      val s = System.nanoTime()
      val r = span(name)(body)
      into += (System.nanoTime() - s) / 1e6
      r
    }
    def read[A](body: => A): A = timed(reads, "read")(body)
    def write[A](body: => A): A = timed(writes, "write")(body)
    def maintain[A](body: => A): A = timed(maintains, "maintain")(body)
  }
}

/** Spark execution counters from the listener bus, kept with their event
  * times so that only work inside the measured window is counted. */
final class ExecListener extends SparkListener {
  final case class TaskSample(launchMs: Long, runMs: Long, shuffleBytes: Long,
                              spillBytes: Long)
  val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[TaskSample]()
  @volatile var lastJobGroupSeen: String = null

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(e.time)
    val g = e.properties.getProperty("spark.jobGroup.id")
    if (g != null) lastJobGroupSeen = g
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskSample(e.taskInfo.launchTime,
      m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def inWindow: (Long, Long, Long, Long, Long) = {
    val (a, b) = (Trace.windowStartMs, Trace.windowEndMs)
    val js = jobs.asScala.count(t => t >= a && t <= b).toLong
    val ts = tasks.asScala.filter(t => t.launchMs >= a && t.launchMs <= b)
    (js, ts.size.toLong, ts.map(_.runMs).sum, ts.map(_.shuffleBytes).sum,
      ts.map(_.spillBytes).sum)
  }
}

/** Planning-phase times and scan file counts of every query any session
  * runs, the Thrift sessions included: registered through
  * `spark.sql.queryExecutionListeners`, so Spark builds one per session. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    PlanListener.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  final case class Sample(startMs: Long, analysisMs: Long, optimizerMs: Long,
                          physicalMs: Long, filesRead: Long)
  val samples = new ConcurrentLinkedQueue[Sample]()

  /** Files each scan node of the executed plan read: the input
    * partitions of a DSv2 scan, the `numFiles` metric of a file scan. */
  private def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case b: BatchScanExec => b.inputPartitions.map {
      case f: FilePartition => f.files.map(_.filePath.toString).distinct.size.toLong
      case _ => 0L
    }.sum
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(filesRead).sum
  }

  def record(qe: QueryExecution): Unit = try {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val files = filesRead(qe.executedPlan)
    samples.add(Sample(start, ms("analysis"), ms("optimization"), ms("planning"), files))
  } catch { case NonFatal(_) => () }

  def inWindow: Seq[Sample] = samples.asScala.toSeq.filter(s =>
    s.startMs >= Trace.windowStartMs && s.startMs <= Trace.windowEndMs)
}
