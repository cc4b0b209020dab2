package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: an operation (parent -1) or a
  * layer call inside one. Spans of one operation share `op`. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val startNs: Long) {
  var endNs: Long = startNs
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
    stages: Seq[Int]) {
  def ms: Double = (endMs - startMs).toDouble
}

final class StageRec(val id: Int) {
  var shuffleMap = false
  var tasks = 0L; var runMs = 0L; var cpuMs = 0.0; var schedMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
}

final case class QeRec(qe: Int, func: String, planMs: Double,
    scanRows: Long, scanFiles: Long, writeFiles: Long, writeBytes: Long)

/** Span recorder plus the two listeners of the traced run. Spans are
  * recorded around the benchmark's own calls into the engine's layers;
  * jobs and SQL executions are tied to the innermost open span through a
  * job tag, so every Spark job lands in exactly one span. All records
  * stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var opCount = 0
  private var on = false

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val execSpan = mutable.HashMap.empty[Long, Int]
  val execEndMs = mutable.HashMap.empty[Long, Long]
  /** Identity of a QueryExecution -> its SQL execution id. */
  val qeExec = mutable.HashMap.empty[Int, Long]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  private def tag(s: Span) = s"perfbench-span-${s.id}"
  private def spanOfTags(tags: Iterable[String]): Int =
    tags.collect { case t if t.startsWith("perfbench-span-") =>
      t.stripPrefix("perfbench-span-").toInt }.maxOption.getOrElse(-1)

  /** Runs `body` inside a span; a no-op wrapper while tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse { opCount += 1; opCount }, name, System.nanoTime())
      spans += s
      parent.foreach(p => sc.removeJobTag(tag(p)))
      sc.addJobTag(tag(s))
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.removeJobTag(tag(s))
        parent.foreach(p => sc.addJobTag(tag(p)))
      }
    }

  /** Adds to a counter of the innermost open span; `v` is only evaluated
    * while tracing. */
  def attr(key: String, v: => Double): Unit =
    if (on) open.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  // ---- per-operation JVM counters (codegen, GC) ----
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private def counters = (gcMs.toDouble, CodeGenerator.compileTime / 1e6,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  /** A top-level operation span that also records the JVM's GC time and
    * the codegen compilations that happened inside it. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val (g0, c0, n0) = counters
      span(name) {
        val s = open.head
        try body
        finally {
          val (g1, c1, n1) = counters
          s.attrs("jvm.gc_ms") = g1 - g0
          s.attrs("codegen.compile_ms") = c1 - c0
          s.attrs("codegen.classes") = n1 - n0
        }
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PerfbenchBus.JobTags)))
        .map(_.split(",").toSeq).getOrElse(Nil)
      e.stageInfos.foreach(si => stages.getOrElseUpdate(si.stageId, new StageRec(si.stageId))
        .shuffleMap = PerfbenchBus.isShuffleMap(si))
      jobs(e.jobId) = JobRec(e.jobId, spanOfTags(tags), e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val i = e.taskInfo; val m = e.taskMetrics
        val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetch
        val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1e6
        s.schedMs += math.max(0L, delay)
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSpan(s.executionId) = spanOfTags(s.jobTags)
      case s: SparkListenerSQLExecutionEnd =>
        execEndMs(s.executionId) = s.time
        PerfbenchSql.queryExecution(s).foreach(qe =>
          qeExec(System.identityHashCode(qe)) = s.executionId)
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    Iterator(p) ++ next.iterator.flatMap(nodes)
  }

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum.toDouble
    var scanRows, scanFiles, writeFiles, writeBytes = 0L
    def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
        k: String) = m.get(k).map(_.value).getOrElse(0L)
    nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        scanRows += metric(s.metrics, "numOutputRows")
        scanFiles += metric(s.metrics, "numFiles")
      case w: DataWritingCommandExec =>
        writeFiles += metric(w.cmd.metrics, "numFiles")
        writeBytes += metric(w.cmd.metrics, "numOutputBytes")
      case _ =>
    }
    qes += QeRec(System.identityHashCode(qe), func, planMs, scanRows, scanFiles, writeFiles, writeBytes)
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    on = true
  }

  /** Stops recording after every pending event has been delivered. */
  def detach(): Unit = {
    on = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  // ---- attribution, after detach ----
  def jobsIn(s: Span): Seq[JobRec] = jobs.values.filter(_.span == s.id).toSeq
  def execOf(q: QeRec): Option[Long] = qeExec.get(q.qe)
  def qesIn(s: Span): Seq[QeRec] =
    qes.filter(q => execOf(q).flatMap(execSpan.get).contains(s.id)).toSeq
  /** The stages of a job that ran (a skipped stage has no tasks). */
  def stagesOf(j: JobRec): Seq[StageRec] = j.stages.flatMap(stages.get).filter(_.tasks > 0)
  def children(op: Span): Seq[Span] = spans.filter(_.parent == op.id).toSeq
  def ops: Seq[Span] = spans.filter(_.parent == -1).toSeq
  def writeEndMs(s: Span): Option[Long] =
    qesIn(s).filter(_.writeFiles > 0).flatMap(execOf).flatMap(execEndMs.get).maxOption
}
