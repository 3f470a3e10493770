package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. `parent` is 0 for a request (a root);
  * spans that carry no parent link of their own (Catalyst phases,
  * micro-batches, MLlib fits) are parented to the request whose
  * interval contains their start. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long)

/** Listeners for the traced passes: a SparkListener (jobs, stages,
  * tasks, SQL executions and MLlib fit events), a
  * QueryExecutionListener (Catalyst phases, write commands) and a
  * StreamingQueryListener (micro-batch progress). Jobs carry the
  * request's span id as their job group, so every job, stage and SQL
  * execution becomes a child span of the request that started it.
  *
  * Events arrive on the listener-bus thread; `passMetrics` drains the
  * bus before it reads them. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = ids.getAndIncrement()

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val metrics = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, (Long, Long, String, Boolean)]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val openIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val sqlStart = mutable.Map.empty[Long, (Long, Long, String)]
  private val sqlSpan = mutable.Map.empty[Long, Long]
  private val fitStart = mutable.Map.empty[String, Long]

  private def add(k: String, v: Double): Unit = metrics(k) += v

  // A job writes when its SQL execution runs a write command or its
  // call site is one of graft's own writers; otherwise it opens a table
  // when its call site is a reader method (`parquet at Tables.scala:33`,
  // a schema-inference or listing job) or a graft reader.
  private val writeSite = """.* at (Avro|Sinks)\.scala.*""".r
  private val openSite =
    """^(parquet|csv|json|orc|load|text|textFile|table) at .*|.* at (Tables|Xlsx|Bucketing|Artifacts)\.scala.*""".r
  private val writePlan = """InsertIntoHadoopFsRelationCommand|SaveIntoDataSourceCommand|WriteFiles""".r
  private val sqlWrites = mutable.Set.empty[Long]
  private val writeIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val req = prop("spark.jobGroup.id").flatMap(_.toLongOption).getOrElse(0L)
      val exec = prop("spark.sql.execution.id").flatMap(_.toLongOption)
      val parent = exec.flatMap(sqlSpan.get).getOrElse(req)
      val id = newId()
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val io =
        if (exec.exists(sqlWrites) || writeSite.matches(site)) "write"
        else if (openSite.matches(site)) "open"
        else ""
      val isBuild = prop("perfbench.phase").contains("build")
      jobStart(e.jobId) = (id, e.time, io, isBuild)
      e.stageIds.foreach(s => stageJob(s) = id)
      spans += Span(id, parent, "job", s"job ${e.jobId}: $site", e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (id, t0, io, isBuild) =>
        val i = spans.lastIndexWhere(_.id == id)
        if (i >= 0) spans(i) = spans(i).copy(end = e.time)
        jobIntervals += ((t0, e.time))
        add("scheduler.jobs", 1)
        if (isBuild) add("queries.build_jobs", 1)
        if (io == "open") { add("sources.open_jobs", 1); openIntervals += ((t0, e.time)) }
        if (io == "write") writeIntervals += ((t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      add("scheduler.stages", 1)
      val t0 = si.submissionTime.orElse(stageSubmit.get(si.stageId)).getOrElse(0L)
      val t1 = si.completionTime.getOrElse(t0)
      spans += Span(newId(), stageJob.getOrElse(si.stageId, 0L), "stage",
        s"stage ${si.stageId}: ${si.name} (${si.numTasks} tasks)", t0, t1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("scheduler.tasks", 1)
      if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
      stageSubmit.get(e.stageId).foreach(t =>
        add("scheduler.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t)))
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.input_bytes", m.inputMetrics.bytesRead)
        add("exec.shuffle_read_bytes",
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("sources.bytes_written", m.outputMetrics.bytesWritten)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      val now = System.currentTimeMillis()
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val id = newId()
          sqlSpan(s.executionId) = id
          sqlStart(s.executionId) = (id, s.time, s.description)
          if (writePlan.findFirstIn(s.physicalPlanDescription).nonEmpty) sqlWrites += s.executionId
        case s: SparkListenerSQLExecutionEnd =>
          sqlStart.remove(s.executionId).foreach { case (id, t0, d) =>
            spans += Span(id, -1L, "sql", s"sql ${s.executionId}: ${d.take(80)}", t0, s.time)
          }
        case f: org.apache.spark.ml.FitStart[_] =>
          fitStart(f.estimator.uid) = now
        case f: org.apache.spark.ml.FitEnd[_] =>
          fitStart.remove(f.estimator.uid).foreach { t0 =>
            spans += Span(newId(), -1L, "fit", s"fit ${f.estimator.uid}", t0, now)
            if (f.estimator.isInstanceOf[org.apache.spark.ml.Pipeline]) {
              add("ml.pipeline_fits", 1)
              add("ml.fit_ms", now - t0)
            }
          }
        case _ =>
      }
    }
  }

  private object aqe extends AdaptiveSparkPlanHelper

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = synchronized {
      add("catalyst.query_executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Set("analysis", "optimization", "planning")(phase)) {
          add(s"catalyst.${phase}_ms", s.durationMs)
          spans += Span(newId(), -1L, "catalyst", phase, s.startTimeMs, s.endTimeMs)
        }
      }
      val writes = writeCommands(qe.executedPlan)
      writes.foreach(w => w.cmd.metrics.get("numFiles")
        .foreach(m => add("sources.files_written", m.value)))
    }
    // write commands run inside adaptive plans; the helper's traversal
    // descends into query stages where SparkPlan.collect does not
    private def writeCommands(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
      case c: CommandResultExec => writeCommands(c.commandPhysicalPlan)
      case other => aqe.collect(other) { case w: DataWritingCommandExec => w }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("streaming.batches", 1)
      if (p.numInputRows > 0) add("streaming.data_batches", 1)
      add("streaming.batch_ms", d("triggerExecution"))
      add("streaming.add_batch_ms", d("addBatch"))
      p.stateOperators.foreach { s =>
        add("streaming.state_rows", s.numRowsTotal)
        add("streaming.state_commit_ms", s.commitTimeMs)
      }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans += Span(newId(), -1L, "batch", s"batch ${p.batchId} of ${p.name}", t0,
        t0 + d("triggerExecution"))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Length of the union of intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Event-derived metrics of the pass that just ended; resets the
    * counters. `requests` are the pass's request spans, used to parent
    * the spans that carry no link of their own. */
  def passMetrics(requests: Seq[Span]): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      val busy = unionMs(jobIntervals.toSeq)
      add("scheduler.busy_ms", busy)
      add("sources.open_ms", unionMs(openIntervals.toSeq))
      add("sources.write_ms", unionMs(writeIntervals.toSeq))
      metrics("scheduler.core_util") =
        if (busy > 0) metrics("exec.task_run_ms") / (busy.toDouble * cores) else 0.0
      val byStart = requests.sortBy(_.start)
      def owner(t: Long): Long =
        byStart.findLast(r => r.start <= t && t <= r.end).map(_.id).getOrElse(0L)
      val resolved = spans.map(s => if (s.parent == -1L) s.copy(parent = owner(s.start)) else s)
      finished ++= requests ++ resolved
      val out = metrics.toMap
      Seq(spans, jobIntervals, openIntervals, writeIntervals).foreach(_.clear())
      Seq(stageJob, stageSubmit, sqlSpan, fitStart).foreach(_.clear())
      sqlWrites.clear()
      metrics.clear()
      out
    }
  }

  private val finished = mutable.ArrayBuffer.empty[Span]

  /** Every span of the traced passes with its self time: duration
    * minus the union of its children's intervals (clipped to it). */
  def spansWithSelfTime: Seq[(Span, Long)] = synchronized {
    val kids = finished.groupBy(_.parent)
    finished.toSeq.map { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      (s, math.max(0L, (s.end - s.start) - covered))
    }
  }
}
