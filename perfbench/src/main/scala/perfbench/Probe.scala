package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and shuffle counts of the jobs run under one job group. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyMs += o.taskBusyMs; taskCpuNs += o.taskCpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill
  }
}

/** A job or stage interval, in epoch milliseconds. */
final case class Interval(group: String, id: Int, parent: Int,
    start: Double, end: Double)

/** Listener the benchmark registers itself for traced passes. Every job is
  * attributed to the job group the benchmark set before submitting it
  * (`<query>#<pass>:<phase>`); stages and tasks follow their job.
  */
final class JobProbe extends SparkListener {
  private val groupOfJob = new ConcurrentHashMap[Int, String]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val counts = new ConcurrentHashMap[String, Counts]()
  val jobs = mutable.ArrayBuffer.empty[Interval]
  val stages = mutable.ArrayBuffer.empty[Interval]

  private def of(group: String): Counts =
    counts.computeIfAbsent(group, _ => new Counts)

  private def groupOfStage(stageId: Int): Option[(String, Int)] =
    Option(jobOfStage.get(stageId)).flatMap { j =>
      Option(groupOfJob.get(j)).map(_ -> j)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    groupOfJob.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => jobOfStage.putIfAbsent(s, e.jobId))
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = Option(groupOfJob.get(e.jobId)).getOrElse("")
    jobs += Interval(g, e.jobId, -1, jobStart.getOrDefault(e.jobId, e.time).toDouble,
      e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      groupOfStage(info.stageId).foreach { case (g, j) =>
        of(g).stages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          stages += Interval(g, info.stageId, j, s.toDouble, c.toDouble)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    groupOfStage(e.stageId).foreach { case (g, _) =>
      val c = of(g)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskBusyMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  /** Counts of every group whose name starts with `prefix`. */
  def countsUnder(prefix: String): Counts = synchronized {
    val out = new Counts
    counts.asScala.foreach { case (g, c) => if (g.startsWith(prefix)) out += c }
    out
  }
}

/** Catalyst phase times and cache scans of every query execution that
  * finishes while the listener is registered.
  */
final class PlanProbe(baseRelations: () => Seq[InMemoryRelation])
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  final case class Phases(analysisMs: Long, optimizeMs: Long, planMs: Long,
      start: Double, end: Double, cacheScans: Int)
  val seen = mutable.ArrayBuffer.empty[Phases]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    val ends = ph.values.map(_.endTimeMs)
    val base = baseRelations()
    val scans = collect(qe.executedPlan) {
      case s: InMemoryTableScanExec
          if !base.exists(_.cacheBuilder eq s.relation.cacheBuilder) => s
    }.size
    seen += Phases(ms("analysis"), ms("optimization"), ms("planning"),
      if (starts.isEmpty) 0.0 else starts.min.toDouble,
      if (ends.isEmpty) 0.0 else ends.max.toDouble, scans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  def drainSeen(): Seq[Phases] = synchronized {
    val out = seen.toSeq; seen.clear(); out
  }
}

/** Counts log events at level ERROR from any logger, so engine errors that
  * do not fail a query still show in the record.
  */
final class ErrorCounter private ()
    extends AbstractAppender("perfbench-errors", null, null, true,
      Property.EMPTY_ARRAY) {
  val count = new AtomicLong(0L)
  val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      count.incrementAndGet()
      if (messages.size < 50)
        messages.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}"
          .take(300))
    }
}

object ErrorCounter {
  def attach(): ErrorCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new ErrorCounter
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.ERROR, null)
    ctx.updateLoggers()
    a
  }
}
