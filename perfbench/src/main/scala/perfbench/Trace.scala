package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the op the span belongs to;
  * job, stage and task counts are attributed by the span's job tag. */
final class Span(val id: Int, val parent: Int, val op: Int,
                 val name: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` only runs its body. Enabled,
  * each span tags the Spark jobs its thread launches
  * (`SparkContext.addJobTag`), so the listener can attribute them. */
final class Tracer(sc: SparkContext, @volatile var enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val byId = new ConcurrentHashMap[Int, Span]()

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)

  /** The span a job with these tags belongs to: the innermost one (a
    * child span always has a larger id than its parent). */
  def spanForTags(tags: String): Option[Span] =
    Option(tags).toSeq.flatMap(_.split(','))
      .filter(_.startsWith(Tracer.TagPrefix))
      .flatMap(t => Option(byId.get(t.stripPrefix(Tracer.TagPrefix).toInt)))
      .sortBy(-_.id).headOption

  def current: Option[Span] = stack.get.headOption

  /** Run `body` on this thread as a child of `parent` (for work handed
    * to another thread). */
  def under[T](parent: Option[Span])(body: => T): T = {
    val saved = stack.get
    stack.set(parent.toList)
    try body finally stack.set(saved)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val parent = outer.headOption
      val id = ids.incrementAndGet()
      val s = new Span(id, parent.map(_.id).getOrElse(0),
        parent.map(_.op).getOrElse(id), name, System.nanoTime())
      byId.put(id, s)
      recorded.add(s)
      val tag = Tracer.TagPrefix + id
      sc.addJobTag(tag)
      stack.set(s :: outer)
      try body
      finally {
        s.endNs = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(outer)
      }
    }
}

object Tracer {
  val TagPrefix = "perfbench-span-"

  /** Self time of each span: its duration minus the union of its
    * children's intervals (children on other threads may overlap). */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = coveredLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Length of the union of [start, end) intervals. */
  def coveredLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) covered += curB - curA
        curA = a; curB = b; open = true
      } else curB = math.max(curB, b)
    }
    if (open) covered += curB - curA
    covered
  }
}

/** Scheduler and executor counters from Spark's own listener hooks. */
final class SparkStats(tracer: Tracer) extends SparkListener {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val failedTasks = new AtomicInteger
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val taskIntervals =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val span = tracer.spanForTags(
      Option(e.properties).map(_.getProperty("spark.job.tags")).orNull)
    span.foreach { s =>
      s.jobs.incrementAndGet()
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(stageSpan.get(e.stageId)).foreach(_.tasks.incrementAndGet())
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val durations = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
    durations.synchronized(durations += e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Max over stages with at least 4 tasks of slowest ÷ median task. */
  def stragglerRatio: Double = {
    val ratios = stageTaskMs.values.asScala.toSeq.flatMap { buf =>
      val ts = buf.synchronized(buf.toVector).sorted
      if (ts.size < 4) None
      else {
        val med = ts(ts.size / 2).toDouble
        Some(if (med <= 0) 1.0 else ts.last / med)
      }
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Wall time in [startMs, endMs] during which no task was running. */
  def tasklessSeconds(startMs: Long, endMs: Long): Double = {
    val covered = Tracer.coveredLength(taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) })
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}

/** Catalyst phase times from `QueryExecution.tracker`, per execution. */
final class CatalystStats extends QueryExecutionListener {
  val executions = new AtomicInteger
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisMs.addAndGet(p.durationMs))
    ph.get("optimization").foreach(p => optimizationMs.addAndGet(p.durationMs))
    ph.get("planning").foreach(p => planningMs.addAndGet(p.durationMs))
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
}

/** Micro-batch phase times from `StreamingQueryProgress.durationMs`. */
final class StreamStats extends StreamingQueryListener {
  val batches = new AtomicInteger
  val addBatchMs = new AtomicLong
  val planningMs = new AtomicLong
  val walCommitMs = new AtomicLong
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (e.progress.numInputRows > 0 || ms("addBatch") > 0) batches.incrementAndGet()
    addBatchMs.addAndGet(ms("addBatch"))
    planningMs.addAndGet(ms("queryPlanning"))
    walCommitMs.addAndGet(ms("walCommit"))
  }
}

/** All listeners of one traced run, registered and removed together. */
final class Listeners(spark: SparkSession, tracer: Tracer) {
  val scheduler = new SparkStats(tracer)
  val catalyst = new CatalystStats
  val stream = new StreamStats
  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(stream)
  }
  def unregister(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
  }
}
