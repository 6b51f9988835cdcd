package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree. Times are epoch milliseconds;
  * `parent` is empty for a root. */
final case class Span(id: String, parent: String, kind: String,
    name: String, start: Double, end: Double, attrs: Map[String, Any]) {
  def json: String = Json.obj("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "start" -> start, "end" -> end,
    "attrs" -> attrs)
}

/** Collects spans from Spark's public listener buses while attached:
  * SQL executions (SQLExecutionStart/End), jobs linked to them through
  * `spark.sql.execution.id`, stages with their aggregated task metrics,
  * Catalyst phase times per query (QueryExecutionListener), and
  * micro-batches with their state operators (StreamingQueryListener).
  * Spans stay in memory until `write`. */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = spans.add(s)

  private val sqlStarts = TrieMap.empty[Long, (Double, Long, String)]
  private val jobStarts = TrieMap.empty[Int, (Double, String)]
  private val stageJob = TrieMap.empty[Int, Int]
  private final class StageAgg {
    var runMs, cpuMs, gcMs, fetchWaitMs = 0.0
    var swBytes, srBytes, spillBytes, inBytes, inRows = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val stageAggs = TrieMap.empty[(Int, Int), StageAgg]

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        sqlStarts(e.executionId) = (e.time.toDouble,
          e.rootExecutionId.getOrElse(e.executionId), e.description)
      case e: SparkListenerSQLExecutionEnd =>
        sqlStarts.remove(e.executionId).foreach { case (t0, root, desc) =>
          val parent = if (root == e.executionId) "" else s"sql-$root"
          add(Span(s"sql-${e.executionId}", parent, "sql", desc, t0,
            e.time.toDouble, Map("error" -> e.errorMessage.isDefined)))
        }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(id => s"sql-$id").getOrElse("")
      jobStarts(e.jobId) = (e.time.toDouble, exec)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach { case (t0, exec) =>
        add(Span(s"job-${e.jobId}", exec, "job", s"job ${e.jobId}", t0,
          e.time.toDouble, Map("ok" -> (e.jobResult == JobSucceeded))))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val a = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageAgg)
      a.synchronized {
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.swBytes += m.shuffleWriteMetrics.bytesWritten
        a.srBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.durations += e.taskInfo.duration
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val a = stageAggs.remove((info.stageId, info.attemptNumber()))
        .getOrElse(new StageAgg)
      val sorted = a.durations.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.length / 2)
      val job = stageJob.get(info.stageId).map(j => s"job-$j").getOrElse("")
      add(Span(s"stage-${info.stageId}.${info.attemptNumber()}", job,
        "stage", info.name,
        info.submissionTime.getOrElse(0L).toDouble,
        info.completionTime.getOrElse(0L).toDouble,
        Map("tasks" -> info.numTasks, "run_ms" -> a.runMs,
          "cpu_ms" -> a.cpuMs, "gc_ms" -> a.gcMs,
          "fetch_wait_ms" -> a.fetchWaitMs,
          "shuffle_write_bytes" -> a.swBytes,
          "shuffle_read_bytes" -> a.srBytes,
          "spill_bytes" -> a.spillBytes, "input_bytes" -> a.inBytes,
          "input_rows" -> a.inRows,
          "task_max_ms" -> sorted.lastOption.getOrElse(0L),
          "task_median_ms" -> median)))
    }
  }

  /** All operators of a physical plan, looking through AQE wrappers and
    * query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val end = System.currentTimeMillis().toDouble
      val span = Tracer.planSpan(qe, s"plan-${qe.id}", func,
        end - durationNs / 1e6, end)
      add(span.copy(attrs = span.attrs ++ jdbcRows(qe)))
    }
    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  /** Rows the JDBC scan nodes of an executed query produced. */
  def jdbcRows(qe: QueryExecution): Map[String, Any] = {
    val scans = nodes(qe.executedPlan).filter(n =>
      n.nodeName.toUpperCase.contains("JDBC") ||
        n.toString.toUpperCase.contains("JDBCSCAN"))
    if (scans.isEmpty) Map.empty
    else Map("jdbc_rows" -> scans.flatMap(_.metrics.get("numOutputRows"))
      .map(_.value).sum)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val id = s"batch-${p.batchId}"
      add(Span(id, "", "microbatch", s"batch ${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0L),
        d.map { case (k, v) => s"${k}_ms" -> v }.toMap +
          ("input_rows" -> p.numInputRows)))
      p.stateOperators.zipWithIndex.foreach { case (s, i) =>
        add(Span(s"$id.state$i", id, "state_op", s.operatorName, start,
          start + d.getOrElse("triggerExecution", 0L),
          Map("commit_ms" -> s.commitTimeMs,
            "update_ms" -> s.allUpdatesTimeMs,
            "rows_total" -> s.numRowsTotal,
            "rows_updated" -> s.numRowsUpdated,
            "memory_bytes" -> s.memoryUsedBytes)))
      }
    }
  }

  private var t0 = 0.0
  private var gc0 = 0L
  private var compiles0 = 0L

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def attach(): Unit = {
    t0 = System.currentTimeMillis().toDouble
    gc0 = gcMs
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after the listener buses drained, and add the window span
    * that carries the JVM-wide counters (GC time, codegen compiles). */
  def detach(cores: Int): Unit = {
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles = hist.getCount - compiles0
    val end = System.currentTimeMillis().toDouble
    add(Span("window", "", "window", "traced window", t0, end,
      Map("gc_ms" -> (gcMs - gc0), "cores" -> cores,
        "codegen_compiles" -> compiles,
        "codegen_ms" -> compiles * hist.getSnapshot.getMean)))
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach(s => w.println(s.json)) finally w.close()
  }
}

object Tracer {
  private def ms(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** A span carrying the Catalyst phase times QueryPlanningTracker
    * recorded for `qe`. */
  def planSpan(qe: QueryExecution, id: String, name: String,
      start: Double, end: Double): Span =
    Span(id, "", "plan", name, start, end, Map(
      "parse_ms" -> ms(qe, "parsing"),
      "analyze_ms" -> ms(qe, "analysis"),
      "optimize_ms" -> ms(qe, "optimization"),
      "physical_ms" -> ms(qe, "planning")))
}
