package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** Maps a stage's call site to the repository module that issued it. */
object Attribution {

  /** Packages whose code runs inside the plans and tasks of their caller:
    * their cost belongs to the module that called them. */
  private val Inlined = Set("functions", "operators", "plans")

  /** The module of the innermost `graft.*` frame outside the benchmark
    * itself, e.g. `state`, `ingest`, `sinks`, `jobs`, `api`,
    * `analytics.dedup`; None when no such frame is present. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at ").trim).collectFirst(Function.unlift(frameModule))

  private def frameModule(frame: String): Option[String] = {
    val qualified = frame.takeWhile(_ != '(')
    if (!qualified.startsWith("graft.") || qualified.startsWith("graft.perfbench.")) None
    else qualified.split('.').toSeq match {
      case Seq("graft", pkg, cls, _*) if pkg.headOption.exists(_.isLower) =>
        if (Inlined(pkg)) None
        else if (pkg == "analytics") Some("analytics." + cls.takeWhile(_ != '$').toLowerCase)
        else Some(pkg)
      case _ => None
    }
  }
}

/** Per-stage task totals. */
final class StageAgg(val op: Int, val module: Option[String], val scopes: Seq[String]) {
  var taskMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var outRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  def readsTsv: Boolean = scopes.exists(_.toLowerCase.contains("csv"))
}

final case class JobRec(op: Int, module: Option[String], startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/**
 * The traced run's recorder: a SparkListener that attributes every job and
 * stage to the operation running when it started and to the module its
 * call site names. Spans are kept in memory and written when the run ends.
 */
final class Tracer extends SparkListener {

  @volatile var currentOp: Int = -1
  private val jobStarts = new ConcurrentHashMap[Int, (Int, Option[String], Long)]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  // SQL executions carry the call site of the thread that started them;
  // their jobs may run on other threads (adaptive stages, broadcasts)
  private val execModules = new ConcurrentHashMap[Long, Option[String]]()
  private val stageModules = new ConcurrentHashMap[Int, Option[String]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execModules.put(s.executionId, Attribution.moduleOf(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fromExec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execModules.get(id.toLong))).flatten
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val module = fromExec.orElse(Attribution.moduleOf(callSite))
    e.stageInfos.foreach(s => stageModules.putIfAbsent(s.stageId, module))
    jobStarts.put(e.jobId, (currentOp, module, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (op, m, t0) => jobs.add(JobRec(op, m, t0, e.time)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    val module = Option(stageModules.get(i.stageId)).flatten.orElse(Attribution.moduleOf(i.details))
    stages.putIfAbsent(i.stageId, new StageAgg(currentOp, module, org.apache.spark.perfbench.RddScopes.of(i)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stages.get(e.stageId)
    if (m != null && s != null) s.synchronized {
      s.taskMs += m.executorRunTime
      s.inRecords += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
      s.outRecords += m.outputMetrics.recordsWritten
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }

  def jobsOf(op: Int): Seq[JobRec] = jobs.asScala.filter(_.op == op).toSeq
  def stagesOf(op: Int): Seq[StageAgg] = stages.values.asScala.filter(_.op == op).toSeq

  /** Seconds of [t0, t1] (epoch ms) during which no job of `op` ran. */
  def uncoveredSeconds(op: Int, t0: Long, t1: Long): Double =
    math.max(0L, (t1 - t0) - Tracer.coveredMs(jobsOf(op).map(j => (j.startMs, j.endMs)), t0, t1)) / 1e3

  /** One span: name, parent, [start, end] in epoch ms. */
  final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)

  def span(parent: Int, name: String, startMs: Long, endMs: Long): Int = {
    val id = nextSpan.incrementAndGet()
    spans.add(Span(id, parent, name, startMs, endMs))
    id
  }

  /** All spans with their self time (duration minus the part of it that
    * child spans cover), as JSON lines. */
  def spansJson: Iterator[String] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.sortBy(_.startMs).iterator.map { s =>
      val self = (s.endMs - s.startMs) -
        Tracer.coveredMs(kids.getOrElse(s.id, Seq.empty).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"dur_ms":${s.endMs - s.startMs},"self_ms":$self}"""
    }
  }
}

object Tracer {
  /** Milliseconds of [t0, t1] covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val iv = intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}

/** Process-wide counters read around each operation, traced or not. */
object Counters {
  def fsBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
