package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's event store. Listeners append raw records (SQL
  * executions with their Catalyst phase times, jobs with their task
  * totals, streaming progress); they are kept in memory and written out
  * once at the end. `run.py` turns them into spans linked by SQL
  * execution id.
  */
object Trace {
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]

  def record(kind: String, fields: (String, Any)*): Unit = synchronized {
    records += (Map[String, Any]("kind" -> kind) ++ fields)
  }

  def all: Seq[Map[String, Any]] = synchronized(records.toList)

  /** Listener classes for sessions the program builds itself
    * (`RunPipeline`): Spark instantiates them from these settings.
    */
  val SessionListenerConf: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[TraceSparkListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[TraceStreamListener].getName)

  /** Listeners attached to a session the harness owns; `detach` removes them. */
  final class Attached(spark: SparkSession) {
    private val jobs = new TraceSparkListener
    private val streams = new TraceStreamListener
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)

    def detach(): Unit = {
      drain(spark)
      spark.streams.removeListener(streams)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  /** Wait until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext)

  /** Whole-stage codegen compile failures, counted from the ERROR lines of
    * Spark's `CodeGenerator` logger: the plan then runs interpreted and
    * nothing else records it.
    */
  val codegenFailures = new java.util.concurrent.atomic.AtomicLong(0L)

  def countCodegenFailures(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-codegen-failures", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR) &&
            e.getLoggerName != null && e.getLoggerName.endsWith("CodeGenerator"))
          codegenFailures.incrementAndGet()
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** JVM-wide codegen counters: (compile time ns, number of compiles). */
  def codegen(): (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** SQL executions (with the Catalyst phase times of the plan that ran)
  * and jobs (with their task totals). One instance per SparkContext;
  * Spark calls it from a single listener thread. Spark builds the
  * instances of `RunPipeline`'s session once its context is ready, which
  * ends that job's session step.
  */
class TraceSparkListener extends SparkListener {
  Trace.record("context_ready", "t" -> System.currentTimeMillis())

  private final class Job(val id: Int, val start: Long, val exec: Long, val desc: String) {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var inBytes = 0L; var outBytes = 0L
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    Trace.record("app_start", "t" -> e.time)

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Trace.record("app_end", "t" -> e.time)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val desc = Seq(prop("spark.job.description"), prop("spark.jobGroup.id"),
      prop("spark.job.tags")).flatten.mkString(" ")
    jobs(e.jobId) = new Job(e.jobId, e.time, exec, desc)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.inBytes += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { j =>
      stageJob.filterInPlace((_, job) => job != j.id)
      Trace.record("job", "id" -> j.id, "exec" -> j.exec, "start" -> j.start, "end" -> e.time,
        "desc" -> j.desc, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWrite, "input_bytes" -> j.inBytes,
        "output_bytes" -> j.outBytes)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = Option(s.physicalPlanDescription).getOrElse("")
      Trace.record("exec_start", "exec" -> s.executionId, "t" -> s.time,
        "root" -> s.rootExecutionId.getOrElse(-1L), "desc" -> s.description,
        "writes" -> plan.contains("InsertIntoHadoopFsRelationCommand"),
        "scans_staging" -> plan.contains("_staging_"))
    case s: SparkListenerSQLExecutionEnd =>
      val qe = org.apache.spark.sql.perfbench.ExecutionEnd.queryExecution(s)
      val phases = qe.map(_.tracker.phases).getOrElse(Map.empty)
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      val files =
        try qe.map(q => org.apache.spark.sql.perfbench.ExecutionEnd.filesWritten(q.executedPlan))
          .getOrElse(0L)
        catch { case _: Exception => 0L } // a plan that failed to build has no metrics
      Trace.record("exec_end", "exec" -> s.executionId, "t" -> s.time,
        "analysis_ms" -> ms(QueryPlanningTracker.ANALYSIS),
        "optimize_ms" -> ms(QueryPlanningTracker.OPTIMIZATION),
        "plan_ms" -> ms(QueryPlanningTracker.PLANNING),
        "output_files" -> files, "error" -> s.errorMessage.getOrElse(""))
    case _ =>
  }
}

/** Per-trigger progress of every streaming query (`durationMs` split). */
class TraceStreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Trace.record("progress", "query" -> p.id.toString, "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "batch_ms" -> p.batchDuration, "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}
