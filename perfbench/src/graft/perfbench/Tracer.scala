package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Spans around the benchmark's own calls into the program, plus the
 * Spark listeners that attribute jobs, stages, planning and streaming
 * progress to them. Everything stays in memory until [[spansJson]] and
 * the per-layer aggregation run after the measured work.
 *
 * All times are seconds since the tracer was created. Listener events
 * carry wall-clock milliseconds; spans are read from the monotonic clock
 * and anchored to the same origin, so attribution is good to ~1 ms.
 */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private def now: Double = (System.nanoTime() - originNs) / 1e9
  private def fromMs(ms: Long): Double = (ms - originMs) / 1e3

  val spans = new mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  /** Time `f` as a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), now, Double.NaN,
      gcSeconds())
    spans += s
    open = s :: open
    try f finally {
      s.end = now
      s.gcEnd = gcSeconds()
      open = open.tail
    }
  }

  /** Record an interval measured elsewhere (e.g. from listener data). */
  def derived(name: String, parent: Int, start: Double, end: Double): Unit =
    spans += Span(spans.size, name, parent, start, end, 0.0, 0.0)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, Execution]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val writingTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        executions.put(x.executionId,
          Execution(x.executionId, fromMs(x.time), Double.NaN,
            Option(x.physicalPlanDescription).filter(_.contains(WriteCommand)).getOrElse("")))
      case x: SparkListenerSQLExecutionEnd =>
        Option(executions.get(x.executionId)).foreach(_.end = fromMs(x.time))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        val props = Option(s.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
        jobs.add(Job(e.jobId, fromMs(s.time), fromMs(e.time), prop("spark.job.description"),
          prop("callSite.short"), s.stageIds.toSet))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
        writingTasks.merge(e.stageId, 1, (a: Int, b: Int) => a + b)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(Stage(i.stageId,
        i.submissionTime.map(fromMs).getOrElse(Double.NaN),
        i.completionTime.map(fromMs).getOrElse(Double.NaN),
        i.numTasks, m.executorRunTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        writingTasks.getOrDefault(i.stageId, 0),
        i.rddInfos.exists(_.scope.exists(_.name.startsWith("Scan text")))))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val secs = ph.values.map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum
        plans.add(Plan(fromMs(ph.values.map(_.endTimeMs).max), secs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      progress.add(Progress(e.progress.batchId,
        d.get("addBatch").map(_.longValue / 1e3).getOrElse(0.0),
        d.get("triggerExecution").map(_.longValue / 1e3).getOrElse(0.0)))
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Drain the listener bus so every event of the measured work is in. */
  def settle(): Unit =
    org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)

  def close(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- aggregation -------------------------------------------------------

  def jobsIn(start: Double, end: Double): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.start >= start - Slack && j.start < end).sortBy(_.start)

  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.toSeq.filter(s => ids.contains(s.id))
  }

  /** Seconds of [start, end) during which no job was running. */
  def driverGap(start: Double, end: Double, js: Seq[Job]): Double =
    math.max(0.0, (end - start) - unionLength(js.map(j =>
      (math.max(j.start, start), math.min(j.end, end)))))

  /** The `spark.*` listener counts for the interval [start, end). */
  def sparkCounts(start: Double, end: Double, gcStart: Double, gcEnd: Double): Map[String, Double] = {
    val js = jobsIn(start, end)
    val st = stagesOf(js)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_s" -> st.map(_.taskSeconds).sum,
      "spark.driver_gap_s" -> driverGap(start, end, js),
      "spark.plan_s" -> plans.asScala.toSeq
        .filter(p => p.end >= start - Slack && p.end < end).map(_.seconds).sum,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.gc_s" -> math.max(0.0, gcEnd - gcStart))
  }

  /** Spans as JSON rows; each carries its own `spark.*` counts. */
  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map[String, Any]("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end, "self_s" -> selfTime(s)) ++
      sparkCounts(s.start, s.end, s.gcStart, s.gcEnd)
  }

  /** Every job, for the record: a regression can be read off it. */
  def jobsJson: Seq[Map[String, Any]] = jobs.asScala.toSeq.sortBy(_.id).map(j =>
    Map[String, Any]("id" -> j.id, "start" -> j.start, "end" -> j.end, "desc" -> j.desc,
      "callsite" -> j.callSite))

  /** Span duration minus the part covered by its child spans. */
  def selfTime(s: Span): Double =
    s.duration - unionLength(spans.toSeq.filter(_.parent == s.id).map(c => (c.start, c.end)))
}

object Tracer {
  /** Listener timestamps are truncated to whole milliseconds. */
  val Slack = 0.001

  final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double,
      gcStart: Double, var gcEnd: Double = 0.0) {
    def duration: Double = end - start
  }
  final case class Job(id: Int, start: Double, end: Double, desc: String, callSite: String,
      stageIds: Set[Int]) {
    def wall: Double = end - start
  }
  final case class Stage(id: Int, start: Double, end: Double, tasks: Int, taskSeconds: Double,
      shuffleWrite: Long, spill: Long, recordsRead: Long, bytesWritten: Long,
      writingTasks: Int, textScan: Boolean)
  final case class Plan(end: Double, seconds: Double)
  val WriteCommand = "InsertIntoHadoopFsRelationCommand"
  /** A SQL execution; `writePlan` is its physical plan text when it
    * writes files (the output path is in the plan's arguments). */
  final case class Execution(id: Long, start: Double, var end: Double, writePlan: String) {
    def writesUnder(dir: String): Boolean = writePlan.contains(dir)
  }
  final case class Progress(batchId: Long, addBatch: Double, trigger: Double)

  def unionLength(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    if (sorted.isEmpty) 0.0
    else {
      var total = 0.0
      var (curS, curE) = sorted.head
      sorted.tail.foreach { case (a, b) =>
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      total + curE - curS
    }
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
