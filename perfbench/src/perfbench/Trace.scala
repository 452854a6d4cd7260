package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{LogEvent, LoggerContext, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, FileSourceScanExec, QueryExecution, RDDScanExec, ExternalRDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace: a query execution, its build or action phase,
  * a Spark job or a stage. All spans of one execution share `exec`.
  * Times are epoch milliseconds.
  */
final case class Span(exec: String, kind: String, id: String, parent: String,
    start: Long, end: Long)

/** Layer counters and spans of one traced execution. Listener callbacks
  * arrive on two listener-bus threads (the shared queue and the streams
  * queue), hence the locking; the harness drains the bus before it reads
  * a trace or switches its phase, so no callback races a read.
  */
final class ExecTrace(val exec: String) {
  @volatile var phase = "build"
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val spans = mutable.ArrayBuffer.empty[Span]
  def add(k: String, v: Double): Unit = synchronized { counts(k) = counts.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { counts(k) = math.max(counts.getOrElse(k, 0.0), v) }
}

/** Counts Spark's codegen fallbacks: whole-stage codegen disabled for a
  * plan after a compile failure, and expression codegen falling back to
  * the interpreter. Both are logged on the thread that plans the query,
  * so the harness reads the counter before and after each phase.
  */
final class CodegenFallbacks extends AbstractAppender(
    "perfbench-codegen-fallbacks", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    if (msg.contains("Whole-stage codegen disabled") || msg.contains("falling back to interpreter"))
      count.incrementAndGet()
  }
}

object CodegenFallbacks {
  val loggers = Seq(
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.sql.catalyst.expressions.CodeGeneratorWithInterpretedFallback")

  def attach(): CodegenFallbacks = {
    val app = new CodegenFallbacks
    app.start()
    val ctx = LoggerContext.getContext(false)
    loggers.foreach(n => ctx.getLogger(n).asInstanceOf[CoreLogger].addAppender(app))
    app
  }
}

/** Reads layer counters from Spark's public listener interfaces: the
  * context-wide `SparkListener` (jobs, stages, tasks), one
  * `QueryExecutionListener` per session (Catalyst phases and executed-plan
  * SQL metrics) and one `StreamingQueryListener` per session (micro-batch
  * progress).
  */
final class Tracer {
  @volatile private var cur: ExecTrace = _
  private val jobPhase = mutable.Map.empty[Int, (String, Long, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, (Int, String)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTaskS = mutable.Map.empty[Int, Double]

  def begin(exec: String): ExecTrace = { cur = new ExecTrace(exec); cur }
  def end(): Unit = cur = null

  def attach(s: SparkSession): Unit = {
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  def detach(s: SparkSession): Unit = {
    s.listenerManager.unregister(queries)
    s.streams.removeListener(streams)
  }

  val tasks: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t = cur
      if (t != null) {
        val phase = Option(e.properties).map(_.getProperty(Harness.PhaseProp)).orNull
        val p = if (phase == null) t.phase else phase
        jobPhase(e.jobId) = (p, e.time, e.stageIds)
        e.stageIds.foreach(sid => stageJob(sid) = (e.jobId, p))
        t.add(if (p == "build") "build.jobs" else "exec.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t = cur
      jobPhase.remove(e.jobId).foreach { case (p, start, stages) =>
        stages.foreach(stageJob.remove)
        if (t != null) t.synchronized { t.spans += Span(t.exec, "job", s"job${e.jobId}", p, start, e.time) }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val t = cur
      val info = e.stageInfo
      val start = stageSubmit.remove(info.stageId).getOrElse(info.submissionTime.getOrElse(0L))
      val taskS = stageTaskS.remove(info.stageId).getOrElse(0.0)
      stageJob.get(info.stageId).foreach { case (job, p) =>
        if (t != null) {
          t.synchronized { t.spans += Span(t.exec, "stage", s"stage${info.stageId}.${info.attemptNumber()}", s"job$job",
            start, info.completionTime.getOrElse(System.currentTimeMillis())) }
          if (p == "action") {
            t.add("exec.stages", 1)
            val readsScan = info.rddInfos.exists(r => r.scope.exists(sc => isScanName(sc.name)))
            if (readsScan) t.add("scan.task_s", taskS)
          }
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = cur
      val phase = stageJob.get(e.stageId).map(_._2)
      if (t != null && phase.contains("action")) {
        val info = e.taskInfo
        val dur = info.duration / 1000.0
        stageTaskS(e.stageId) = stageTaskS.getOrElse(e.stageId, 0.0) + dur
        t.add("exec.tasks", 1)
        t.add("exec.task_s", dur)
        t.max("exec.max_task_s", dur)
        stageSubmit.get(e.stageId).foreach(s => t.add("exec.task_wait_s", math.max(0L, info.launchTime - s) / 1000.0))
        if (e.reason != Success) t.add("exec.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          t.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          t.add("exec.gc_s", m.jvmGCTime / 1000.0)
          t.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          t.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          t.add("exec.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
          t.add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
          t.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
          t.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val t = cur
      if (t != null) {
        val plan = Plans.nodes(qe.executedPlan)
        Plans.writes(plan).foreach { case (k, v) => t.add(k, v) }
        if (t.phase == "action") {
          Seq("analysis" -> "catalyst.analysis_s", "optimization" -> "catalyst.optimizer_s",
              "planning" -> "catalyst.planning_s").foreach { case (p, k) => t.add(k, Tracer.phaseS(qe, p)) }
          Plans.scans(plan).foreach { case (k, v) => t.add(k, v) }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = cur
      if (t != null) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1000.0 }
        t.add("stream.batches", 1)
        t.add("stream.batch_s", d.getOrElse("triggerExecution", 0.0))
        t.add("stream.plan_s", d.getOrElse("queryPlanning", 0.0))
        t.add("stream.commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        t.max("stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
        t.max("stream.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
      }
    }
  }

  private def isScanName(n: String): Boolean = n.contains("Scan")
}

object Tracer {
  /** Seconds a query spent in one Catalyst phase (analysis, optimization, planning). */
  def phaseS(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs / 1000.0).getOrElse(0.0)
}

/** Walks an executed plan, including adaptive query stages and
  * subqueries, and sums the SQL metrics of its leaf scans and file writes.
  */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  private def rows(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)

  private def isScan(p: SparkPlan): Boolean = p.children.isEmpty && (p match {
    case _: QueryStageExec | _: ReusedExchangeExec => false
    case _ => p.metrics.contains("numOutputRows")
  })

  private def partitions(p: SparkPlan): Double = p match {
    case b: BatchScanExec => b.inputPartitions.size
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
    case r: RDDScanExec => r.rdd.getNumPartitions
    case r: ExternalRDDScanExec[_] => r.rdd.getNumPartitions
    case _ => 0
  }

  /** The leaf a filter reads through single-child operators, if any. */
  private def leafBelow(p: SparkPlan): Option[SparkPlan] = p.children match {
    case Seq() => Some(p)
    case Seq(c) if !c.isInstanceOf[QueryStageExec] => leafBelow(c)
    case _ => None
  }

  def scans(plan: Seq[SparkPlan]): Seq[(String, Double)] = {
    val leaves = plan.filter(isScan)
    val filtered = plan.collect { case f: FilterExec => f }
      .flatMap(f => f.children.headOption.flatMap(leafBelow).filter(isScan).map(_ -> rows(f)))
    val filteredLeaves = filtered.map(_._1).toSet
    val kept = filtered.map(_._2).sum + leaves.filterNot(filteredLeaves).map(rows).sum
    Seq("scan.rows" -> leaves.map(rows).sum, "scan.rows_kept" -> kept,
      "scan.partitions" -> leaves.map(partitions).sum)
  }

  def writes(plan: Seq[SparkPlan]): Seq[(String, Double)] = {
    val w = plan.filter(p => p.metrics.contains("numFiles") && p.metrics.contains("numOutputBytes"))
    Seq("write.rows" -> w.map(rows).sum,
      "write.bytes" -> w.map(_.metrics("numOutputBytes").value.toDouble).sum,
      "write.files" -> w.map(_.metrics("numFiles").value.toDouble).sum)
  }
}
