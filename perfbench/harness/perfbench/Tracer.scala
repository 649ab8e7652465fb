package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one traced query execution. Times are seconds,
  * sizes bytes. `buildEndMs` is wall-clock epoch milliseconds so that
  * listener events (which carry epoch ms) can be placed before or after it. */
final class QueryRecord(val query: String, val pass: Int) {
  var buildEndMs = 0L
  var wallS, buildS, writeS, planS = 0.0
  var buildJobs, stages, singleTaskStages, tasks = 0L
  /** (start time, span tag) of every job; the tag is absent for jobs
    * fired from threads that did not inherit the local property. */
  val jobStarts = mutable.ArrayBuffer.empty[(Long, Option[String])]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskS, cpuS, gcS = 0.0
  var shuffleWrite, shuffleRead, spill, peakMem = 0L
  var analysisS, optimizationS, planningS, resultAnalysisS = 0.0
  var exchanges, scans = 0L
  var compiles, compileFailures = 0L
  var batches = 0L
  var triggerS, commitS = 0.0
  val stateByRun = mutable.Map.empty[String, (Long, Long)]
  var scratchBytes, scratchFiles = 0L
  val executions = mutable.ArrayBuffer.empty[QueryExecution]

  def jobs: Long = jobStarts.size.toLong
  def executeS: Double = writeS - planS
  def stateRows: Long = stateByRun.values.map(_._1).sum
  def stateBytes: Long = stateByRun.values.map(_._2).sum

  /** Query wall minus the union of its Spark job intervals. */
  def driverGapS: Double = wallS - Tracer.unionMs(jobSpans.toSeq) / 1e3
}

object Census extends AdaptiveSparkPlanHelper {
  /** (exchanges, scans) of a final plan, AQE stages and subqueries
    * included; a reused exchange counts as an exchange. */
  def apply(plan: SparkPlan): (Long, Long) = {
    val ex = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
      case e: ReusedExchangeExec => e
    }
    val scans = collectWithSubqueries(plan) {
      case s: DataSourceScanExec => s
      case s: BatchScanExec => s
    }
    (ex.size.toLong, scans.size.toLong)
  }
}

/** Listeners registered from benchmark code: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (Catalyst phases and the
  * final-plan census), a StreamingQueryListener (micro-batches, commits,
  * state) and a log appender that counts failed codegen compilations.
  * Events are attributed to `current`, which only changes after the bus
  * has been drained. */
final class Tracer(spark: SparkSession, scratchRoot: String) {
  @volatile private var current: QueryRecord = _
  private val jobStart = mutable.Map.empty[Int, Long]
  private val compileFailures = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = current
      if (r != null) {
        jobStart(e.jobId) = e.time
        r.jobStarts += ((e.time,
          Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = current
      jobStart.remove(e.jobId).foreach { t0 =>
        if (r != null) r.jobSpans += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val r = current
      if (r != null) {
        r.stages += 1
        if (e.stageInfo.numTasks == 1) r.singleTaskStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = current
      val m = e.taskMetrics
      if (r != null && m != null) {
        r.tasks += 1
        r.taskS += m.executorRunTime / 1e3
        r.cpuS += m.executorCpuTime / 1e9
        r.gcS += m.jvmGCTime / 1e3
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled
        r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val r = current
      if (r != null) r.executions += qe
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val r = current
      if (r != null) {
        val p = e.progress
        val d = p.durationMs.asScala
        def sec(k: String) = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
        r.batches += 1
        r.triggerS += sec("triggerExecution")
        r.commitS += sec("walCommit") + sec("commitOffsets")
        r.stateByRun(p.runId.toString) = (
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  private val codegenAppender =
    new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".CodeGenerator") &&
            e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR))
          compileFailures.incrementAndGet()
    }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    codegenAppender.start()
    ctx.getConfiguration.getRootLogger.addAppender(codegenAppender, null, null)
    ctx.updateLoggers()
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(codegenAppender.getName)
    ctx.updateLoggers()
    codegenAppender.stop()
  }

  private var compilesAtBegin, failuresAtBegin = 0L
  private var scratchAtBegin = Map.empty[String, (Long, Long)]

  def begin(r: QueryRecord): Unit = {
    scratchAtBegin = Tracer.listFiles(scratchRoot)
    compilesAtBegin = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    failuresAtBegin = compileFailures.get
    current = r
  }

  /** Drains the bus so every event of `r` is counted, then detaches. */
  def end(r: QueryRecord): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    current = null
    jobStart.clear()
    r.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compilesAtBegin
    r.compileFailures = compileFailures.get - failuresAtBegin
    r.buildJobs = r.jobStarts.count { case (t, tag) =>
      tag.map(_ == "build").getOrElse(t <= r.buildEndMs)
    }.toLong
    val planSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    for (qe <- r.executions) {
      val ph = qe.tracker.phases
      def sec(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      r.analysisS += sec("analysis")
      r.optimizationS += sec("optimization")
      r.planningS += sec("planning")
      // Actions fired inside the build span are the query function's own;
      // the ones after it plan and run the result.
      if (ph.values.exists(_.startTimeMs >= r.buildEndMs)) {
        planSpans ++= ph.values.map(p => (p.startTimeMs, p.endTimeMs))
        val (ex, sc) = Census(qe.executedPlan)
        r.exchanges += ex
        r.scans += sc
      }
    }
    r.planS = Tracer.unionMs(planSpans.toSeq) / 1e3
    val after = Tracer.listFiles(scratchRoot)
    val written = after.filter { case (f, st) => !scratchAtBegin.get(f).contains(st) }
    r.scratchFiles = written.size.toLong
    r.scratchBytes = written.values.map(_._1).sum
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Total length of the union of [start, end] intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    for ((s, e) <- spans.sortBy(_._1)) {
      if (!started || s > reach) { total += e - s; reach = e; started = true }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }

  /** path -> (size, mtime) of every regular file under `root`. */
  def listFiles(root: String): Map[String, (Long, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(f => f.toString -> (java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally s.close()
    }
  }
}
