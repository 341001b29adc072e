package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.perfbench.BusGlue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecGlue

/** A trace span. Kinds nest run → op → step → job; `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, durNs: Long, tags: Map[String, String] = Map.empty) {
  def durS: Double = durNs / 1e9
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
}

/** One file scan of a finished SQL execution, from the scan node's own metrics. */
final case class ScanStat(paths: Seq[String], bytes: Long, files: Long, rows: Long)

/** One file write of a finished SQL execution, from the write command's metrics. */
final case class WriteStat(path: String, files: Long, bytes: Long, rows: Long)

/** A finished SQL execution: its scans and writes, the bytes its shuffle
  * exchanges wrote and its operators spilled, and its planning time.
  */
final case class ExecStat(id: Long, scans: Seq[ScanStat], writes: Seq[WriteStat],
    shuffleBytes: Long, spillBytes: Long, planMs: Long)

final class JobStat(val id: Int, val startMs: Long, val execId: Long,
    val site: String, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageStat(val id: Int) {
  @volatile var submitMs: Long = -1L
  @volatile var firstLaunchMs: Long = Long.MaxValue
  @volatile var taskMs: Long = 0L
  @volatile var shuffleWriteBytes: Long = 0L
  val failedTasks = new LongAdder
}

/** Everything the benchmark observes about the engine from outside it: a
  * Spark listener (jobs, stages, tasks, cached blocks, and each finished
  * SQL execution's scan/write/exchange node metrics and planning time) and
  * a log appender (duplicate block puts). Spans are kept in memory and
  * written once, at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  val stages = new ConcurrentHashMap[Int, StageStat]()
  val execs = new ConcurrentHashMap[Long, ExecStat]()
  val execSites = new ConcurrentHashMap[Long, String]()
  val blocksCached = new LongAdder
  val duplicatePuts = new LongAdder
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def cores: Int = sc.defaultParallelism

  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageStat(i))

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .orElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
        .getOrElse("")
      jobs.put(j.jobId, new JobStat(j.jobId, j.time, execId, site, j.stageIds))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach(_.endMs = j.time)
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stage(s.stageInfo.stageId).submitMs = s.stageInfo.submissionTime.getOrElse(-1L)
    override def onTaskStart(t: SparkListenerTaskStart): Unit = {
      val st = stage(t.stageId)
      st.synchronized { st.firstLaunchMs = math.min(st.firstLaunchMs, t.taskInfo.launchTime) }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (!t.taskInfo.successful) stage(t.stageId).failedTasks.increment()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val st = stage(s.stageInfo.stageId)
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        st.taskMs = m.executorRunTime
        st.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) blocksCached.increment()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
      case e: SparkListenerSQLExecutionEnd =>
        ExecGlue.queryExecution(e).foreach(qe => execs.put(e.executionId, Tracer.execStat(e.executionId, qe)))
      case _ => ()
    }
  }

  private val appender = new AbstractAppender("perfbench-block-puts", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("already exists")) duplicatePuts.increment()
  }

  private val blockLogger = "org.apache.spark.storage.BlockManager"

  def start(): Unit = {
    sc.addSparkListener(listener)
    appender.start()
    LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger(blockLogger).addAppender(appender)
  }

  def stop(): Unit = {
    BusGlue.drain(sc)
    sc.removeSparkListener(listener)
    LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger(blockLogger).removeAppender(appender)
    appender.stop()
  }

  /** Time `body` as a span under `parent`; returns the span id and the result. */
  def span[T](parent: Int, kind: String, name: String, tags: Map[String, String] = Map.empty)(
      body: Int => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body(id)
    val s = Span(id, parent, kind, name, t0, System.currentTimeMillis(), System.nanoTime() - n0, tags)
    synchronized { spans += s }
    (out, s)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Record a span whose times were observed elsewhere (a Spark job). */
  def addSpan(parent: Int, kind: String, name: String, startMs: Long, endMs: Long,
      tags: Map[String, String]): Unit = synchronized {
    nextId += 1
    spans += Span(nextId, parent, kind, name, startMs, endMs, (endMs - startMs) * 1000000L, tags)
  }

  /** Forget what the listeners saw (spans are kept). */
  def reset(): Unit = {
    jobs.clear(); stages.clear(); execs.clear(); execSites.clear()
    blocksCached.reset(); duplicatePuts.reset()
  }

  /** Engine frames of a call site, innermost first, with line numbers dropped. */
  def frames(site: String): Seq[String] =
    site.linesIterator.map(_.trim).filter(_.startsWith("graft."))
      .map(l => l.takeWhile(_ != '(')).toSeq

  /** Frames of a job: its own call site, else that of its SQL execution
    * (jobs a broadcast or subquery thread submits carry no engine frames).
    */
  def jobFrames(j: JobStat): Seq[String] = {
    val own = frames(j.site)
    if (own.nonEmpty) own else frames(Option(execSites.get(j.execId)).getOrElse(""))
  }
}

object Tracer {

  /** Engine module of a frame: `graft.operators.IvfPq$.build` → `operators`;
    * classes directly in `graft` belong to `core`.
    */
  def module(frame: String): String = {
    val parts = frame.split('.')
    if (parts.length > 3 && parts(1).headOption.exists(_.isLower)) parts(1) else "core"
  }

  private def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def execStat(id: Long, qe: QueryExecution): ExecStat = {
    val nodes = planNodes(qe.executedPlan)
    val scans = nodes.collect { case s: FileSourceScanExec =>
      ScanStat(s.relation.location.rootPaths.map(_.toString), metric(s, "filesSize"),
        metric(s, "numFiles"), metric(s, "numOutputRows"))
    }
    val writes = nodes.collect { case w: DataWritingCommandExec =>
      val m = w.cmd.metrics
      def v(n: String) = m.get(n).map(_.value).getOrElse(0L)
      val path = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case other => other.nodeName
      }
      WriteStat(path, v("numFiles"), v("numOutputBytes"), v("numOutputRows"))
    }
    val shuffle = nodes.collect { case e: ShuffleExchangeExec => metric(e, "shuffleBytesWritten") }.sum
    val spill = nodes.map(metric(_, "spillSize")).sum
    val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    ExecStat(id, scans, writes, shuffle, spill, planMs)
  }
}
