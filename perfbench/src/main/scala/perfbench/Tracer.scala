package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one op, filled from Spark's public listeners and the
  * JVM MXBeans. Every field is a delta over the op. */
final class OpTrace {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, peakMemBytes = 0L
  var inputBytes, inputRecords = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var compiles, compileMs = 0L
  var streamBatches, streamBatchMs = 0L
  val stateRows = mutable.Map[java.util.UUID, Long]()
  var jvmGcMs, jitCpuMs = 0L
  /** (start, end, step) in epoch ms, one per job; step names the
    * graft.etl call that ran the job, or "" outside the pipeline. */
  val jobSpans = mutable.ArrayBuffer[(Long, Long, String)]()
  /** Input bytes and records read by the tasks of each step's jobs. */
  val stepInputBytes = mutable.Map[String, Long]().withDefaultValue(0L)
  val stepInputRecords = mutable.Map[String, Long]().withDefaultValue(0L)
  /** Plans whose analysis time is counted, by identity. */
  private[perfbench] val countedQes =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])
  private[perfbench] val builtQes = mutable.ArrayBuffer[QueryExecution]()

  /** Wall time covered by at least one job, optionally of one step, or of
    * the jobs that started inside `window` (epoch ms), clipped to it. */
  def jobActiveMs(step: Option[String] = None, window: Option[(Long, Long)] = None): Long = {
    val iv = jobSpans.filter(j => step.forall(_ == j._3))
      .filter(j => window.forall { case (a, b) => j._1 >= a && j._1 <= b })
      .map(j => window.fold((j._1, j._2)) { case (_, b) => (j._1, math.min(j._2, b)) })
      .sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Installs the listeners and attributes their events to the current op.
  * Ops run one at a time on one client thread; after each op the tracer
  * drains Spark's listener bus, so every event of op i is counted before
  * op i+1 begins. */
final class Tracer(spark: SparkSession) {
  @volatile private var cur: OpTrace = null
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val stageJob = mutable.Map[Int, Int]()

  /** The graft.etl call a job ran under, from its stages' long call sites
    * (`StageInfo.details`). Method names only: line numbers move. Jobs of
    * the ingest stream run on the stream's own thread, whose call site
    * names Spark's micro-batch engine instead of a graft frame. */
  private def step(details: Seq[String]): String = {
    val d = details.mkString("\n")
    if (d.contains("graft.etl.JdbcSink.write")) "load"
    else if (d.contains("graft.etl.Crawler.crawl")) "crawl"
    else if (d.contains("graft.etl.Incremental") ||
        d.contains("MicroBatchExecution") || d.contains("StreamExecution"))
      "ingest"
    else if (d.contains("graft.etl.ReferencePipeline.run")) "schema"
    else ""
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobStart(e.jobId) = (e.time, step(e.stageInfos.map(_.details)))
      if (cur != null) cur.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, st) =>
        if (cur != null) cur.jobSpans += ((t0, e.time, st))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (cur != null) cur.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val o = cur
      val m = e.taskMetrics
      if (o != null && m != null) {
        o.tasks += 1
        o.runMs += m.executorRunTime
        o.cpuMs += m.executorCpuTime / 1000000L
        o.gcMs += m.jvmGCTime
        o.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        o.peakMemBytes = math.max(o.peakMemBytes, m.peakExecutionMemory)
        o.inputBytes += m.inputMetrics.bytesRead
        o.inputRecords += m.inputMetrics.recordsRead
        val st = stageJob.get(e.stageId).flatMap(jobStart.get).map(_._2)
          .getOrElse("")
        o.stepInputBytes(st) += m.inputMetrics.bytesRead
        o.stepInputRecords(st) += m.inputMetrics.recordsRead
      }
    }
  }

  private def phaseMs(qe: QueryExecution, p: String): Long =
    qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      val o = cur
      if (o != null) {
        o.countedQes.add(qe)
        o.analysisMs += phaseMs(qe, "analysis")
        o.optimizationMs += phaseMs(qe, "optimization")
        o.planningMs += phaseMs(qe, "planning")
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val o = cur
      if (o != null) {
        val p = e.progress
        o.streamBatches += 1
        o.streamBatchMs +=
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        o.stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  private def gcTotal = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitTotal = jit.map(_.getTotalCompilationTime).getOrElse(0L)

  /** A frame the op built and analysed eagerly but ran only inside another
    * plan: its analysis is counted once the listeners have drained, unless
    * a listener event already counted the same plan. */
  def noteBuilt(qe: QueryExecution): Unit = {
    val o = cur
    if (o != null) o.builtQes += qe
  }

  /** Run `body` as one traced op; the trace is complete on return. */
  def trace[T](body: => T): (T, OpTrace) = {
    PerfbenchBridge.drainListeners(spark)
    val o = new OpTrace
    val gc0 = gcTotal
    val jit0 = jitTotal
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cn0 = PerfbenchBridge.codegenCompileNanos
    cur = o
    try {
      val r = body
      (r, o)
    } finally {
      PerfbenchBridge.drainListeners(spark)
      cur = null
      o.builtQes.filterNot(o.countedQes.contains).foreach { qe =>
        o.countedQes.add(qe)
        o.analysisMs += phaseMs(qe, "analysis")
      }
      o.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      o.compileMs = (PerfbenchBridge.codegenCompileNanos - cn0) / 1000000L
      o.jvmGcMs = gcTotal - gc0
      o.jitCpuMs = jitTotal - jit0
    }
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
