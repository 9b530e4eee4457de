package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code around a call into a
  * layer. Spans of one request share `req`, which is also the Spark job
  * group of every job the request runs.
  */
final case class Span(req: String, name: String, parent: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Counters of one request (or of the background work with no request
  * id), filled by the listeners below.
  */
final class Acc {
  val nExec, planMs, jobs, jobMs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, shufRead, shufWrite, spill = new AtomicLong
  val scanBytes, scanRows = new AtomicLong
  def add(o: Acc): Unit = {
    val pairs = Seq(nExec -> o.nExec, planMs -> o.planMs, jobs -> o.jobs,
      jobMs -> o.jobMs, stages -> o.stages, tasks -> o.tasks,
      taskRunMs -> o.taskRunMs, taskCpuNs -> o.taskCpuNs,
      shufRead -> o.shufRead, shufWrite -> o.shufWrite, spill -> o.spill,
      scanBytes -> o.scanBytes, scanRows -> o.scanRows)
    pairs.foreach { case (a, b) => a.addAndGet(b.get) }
  }
}

/** Span recorder. The untraced runs use [[Tracer.Off]], which only
  * runs the body; [[Tracing]] keeps spans in memory and attributes Spark
  * work to requests through its listeners.
  */
trait Tracer {
  def span[T](req: String, name: String)(body: => T): T
}

object Tracer {
  object Off extends Tracer {
    def span[T](req: String, name: String)(body: => T): T = body
  }
}

final class Tracing(spark: SparkSession) extends SparkListener with Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }
  @volatile var enabled = false

  def span[T](req: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.get.headOption.getOrElse("")
    stack.set(name :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(req, name, parent, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  // ---- attribution ----
  private val byReq = new ConcurrentHashMap[String, Acc]()
  private val jobReq = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageReq = new ConcurrentHashMap[Int, String]()
  private val execReq = new ConcurrentHashMap[Long, String]()
  private val Background = "-"

  def acc(req: String): Acc = byReq.computeIfAbsent(req, _ => new Acc)
  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse(Background)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val req = group(e.properties)
    jobReq.put(e.jobId, (req, e.time))
    e.stageIds.foreach(s => stageReq.put(s, req))
    acc(req).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobReq.remove(e.jobId)).foreach { case (req, t0) =>
      acc(req).jobMs.addAndGet(e.time - t0)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) {
      val req = Option(stageReq.get(e.stageInfo.stageId))
        .getOrElse(group(e.properties))
      acc(req).stages.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageReq.get(e.stageId)).foreach { req =>
      val a = acc(req)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.taskRunMs.addAndGet(m.executorRunTime)
        a.taskCpuNs.addAndGet(m.executorCpuTime)
        a.shufRead.addAndGet(m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead)
        a.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.scanBytes.addAndGet(m.inputMetrics.bytesRead)
        a.scanRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if enabled =>
      val req = s.jobGroupId.getOrElse(Background)
      execReq.put(s.executionId, req)
      acc(req).nExec.incrementAndGet()
    case s: SparkListenerSQLExecutionEnd =>
      Option(execReq.remove(s.executionId)).foreach { req =>
        Option(org.apache.spark.sql.perfbenchbridge.queryExecution(s)).foreach(qe => acc(req).planMs.addAndGet(Tracing.planMs(qe)))
      }
    case _ =>
  }

  // ---- block storage: the RDD blocks localCheckpoint and caching land ----
  private val rddBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val rddBytes = new AtomicLong
  val rddPeakBytes = new AtomicLong
  val rddBlocksStored = new AtomicLong

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = info.memSize + info.diskSize
      val prev = Option(rddBlocks.get(key)).map(_.longValue).getOrElse(0L)
      if (bytes > 0) {
        if (prev == 0L) rddBlocksStored.incrementAndGet()
        rddBlocks.put(key, bytes)
      } else rddBlocks.remove(key)
      val now = rddBytes.addAndGet(bytes - prev)
      rddPeakBytes.accumulateAndGet(now, math.max)
    }
  }

  // ---- query executions as the session reports them ----
  val qeSuccess, qeFailure = new AtomicLong
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) qeSuccess.incrementAndGet()
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) qeFailure.incrementAndGet()
  }

  // ---- structured streaming progress ----
  val streamBatches, streamStateRows, streamStateBytes = new AtomicLong
  val streamBatchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val streamRowsPerS = new ConcurrentLinkedQueue[java.lang.Double]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled && e.progress.numInputRows > 0) {
        val p = e.progress
        streamBatches.incrementAndGet()
        Option(p.durationMs.get("triggerExecution"))
          .foreach(ms => streamBatchMs.add(ms.longValue))
        streamRowsPerS.add(p.processedRowsPerSecond)
        streamStateRows.accumulateAndGet(
          p.stateOperators.map(_.numRowsTotal).sum, math.max)
        streamStateBytes.accumulateAndGet(
          p.stateOperators.map(_.memoryUsedBytes).sum, math.max)
      }
  }

  def install(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    spark.sparkContext.addSparkListener(this)
  }

  def uninstall(): Unit = {
    enabled = false
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Sum of the counters of the given requests. */
  def total(reqs: Iterable[String]): Acc = {
    val out = new Acc
    reqs.foreach(r => Option(byReq.get(r)).foreach(out.add))
    out
  }

  def spansOf(reqs: Set[String]): Seq[Span] =
    spans.asScala.filter(s => reqs(s.req)).toSeq

  /** A span's self time: its duration minus the part its children
    * cover (children of one request run sequentially).
    */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.ms - all.filter(c => c.req == s.req && c.parent == s.name &&
      c.startNs >= s.startNs && c.endNs <= s.endNs).map(_.ms).sum
}

object Tracing {
  def planMs(qe: QueryExecution): Long =
    try qe.tracker.phases.values.map(_.durationMs).sum
    catch { case _: Throwable => 0L }
}
