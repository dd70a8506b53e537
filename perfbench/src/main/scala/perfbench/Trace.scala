package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** One Spark job as the listener bus saw it. Times are epoch milliseconds
  * (Spark's own clock); `module` is the graft package of the innermost
  * graft frame in the job's call site. */
final class JobRec(val id: Int, val startMs: Long, val phase: String,
    val callSite: String, val module: String, val broadcast: Boolean) {
  var endMs: Long = startMs
  var stagesRun = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  def materialize: Boolean = Recorder.MaterializeCalls.exists(m =>
    callSite.startsWith(m + " at "))
}

object Recorder {
  /** Graft packages a job can be attributed to, plus the registry itself
    * (`queries`), the benchmark's checksum action (`action`) and jobs with
    * neither on their call stack, such as broadcast builds (`unattributed`). */
  val Modules: Seq[String] = Seq("ops", "catalyst", "omics", "pipelines",
    "dedup", "sim", "text", "stats", "io", "streaming", "graph",
    "multimodal", "chem", "queries", "action", "unattributed")
  val MaterializeCalls = Seq("localCheckpoint", "checkpoint", "persist",
    "cache")
  val PhaseKey = "perfbench.phase"

  private val GraftFrame = """^graft\.([a-z]+)\.""".r.unanchored

  /** Innermost graft package on a long-form call site. */
  def module(longForm: String): String = {
    val lines = longForm.split("\n")
    lines.iterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") => l
    } match {
      case Some(GraftFrame(pkg)) if Modules.contains(pkg) => pkg
      case Some(_) => "queries" // graft.<Main> objects outside a package
      case None =>
        if (lines.exists(_.trim.startsWith("perfbench."))) "action"
        else "unattributed"
    }
  }
}

/** Listener-bus recorder for the traced run. Events are buffered on the
  * bus thread; the harness drains the bus after each query and takes the
  * buffered jobs as that query's.
  *
  * A job's call site is that of its SQL execution when it has one: AQE
  * submits query stages from a pool thread whose own stack holds no user
  * frame, while the execution-start event carries the stack of the thread
  * that ran the action. */
final class Recorder extends SparkListener {
  private val open = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val execSite = mutable.HashMap.empty[Long, (String, String)]
  private var aqe = 0
  private var stages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      .getOrElse("")
    val result = e.stageInfos.maxBy(_.stageId)
    val broadcast = (prop("spark.job.tags") + " " +
      prop("spark.job.description")).contains("broadcast exchange")
    val (site, module) = prop("spark.sql.execution.id").toLongOption
      .flatMap(execSite.get)
      .getOrElse((result.name, Recorder.module(result.details)))
    val j = new JobRec(e.jobId, e.time, prop(Recorder.PhaseKey), site,
      module, broadcast)
    open(e.jobId) = j
    e.stageInfos.foreach(s => stageJob(s.stageId) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { aqe += 1 }
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSite(x.executionId) = (x.description, Recorder.module(x.details))
    }
    case _ => ()
  }

  /** Jobs, completed-stage count and AQE updates since the last harvest. */
  def harvest(): (Seq[JobRec], Int, Int) = synchronized {
    val out = (open.values.toSeq, stages, aqe)
    open.clear(); stageJob.clear(); execSite.clear(); stages = 0; aqe = 0
    out
  }
}

/** Counts ERROR-level log events, keyed by the query running when they
  * were logged. Attached to the root logger from the benchmark's own
  * code; it only counts, so nothing is suppressed. */
final class ErrorCounter extends org.apache.logging.log4j.core.appender
    .AbstractAppender("perfbench-errors", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  @volatile var current = "(setup)"
  val byQuery = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.ERROR))
      byQuery.merge(current, 1, (a: Int, b: Int) => a + b)
  def total: Int = { var n = 0; byQuery.forEach((_, v) => n += v); n }
}

object ErrorCounter {
  def attach(): ErrorCounter = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.LoggerContext
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val c = new ErrorCounter
    c.start()
    ctx.getConfiguration.getRootLogger
      .addAppender(c, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
    c
  }
}

/** Janino compilations recorded by Spark's CodegenMetrics histogram. The
  * count is exact; the summed time is exact while the histogram's reservoir
  * (1028 samples) still holds every compilation, and count × mean after. */
object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME
  def read(): (Long, Double) = {
    val n = h.getCount
    val snap = h.getSnapshot
    val ms = if (n <= snap.size) snap.getValues.sum.toDouble
      else snap.getMean * n
    (n, ms / 1000.0)
  }
}
