package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorders. Nothing here runs inside the engine: a
  * `SparkListener` sees jobs, stages and tasks, a `QueryExecutionListener`
  * sees Catalyst's phase timings, and each job is given a layer from the
  * engine source file that submitted it (its stage call site).
  *
  * Jobs that AQE or a broadcast submits from a pool thread carry no
  * engine frame of their own; for those the call site of the SQL
  * execution they belong to (recorded when the action started) is used.
  *
  * Layer rules, first engine frame of the job's call site decides:
  *  - `ingest`: graft.ingest.*, graft.Pipeline, graft.meta.Tracking;
  *  - `store`: graft.ops.Epoch*, graft.ops.Layout, graft.plans.Epoch*;
  *  - `io`: graft.Pq, graft.Tables, graft.sources.*;
  *  - otherwise `ops` when the job started while the registry fn was
  *    building the frame, `exec` when it started during the write.
  * The last rule is applied later, by time, in the report. */
final class Trace extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long, site: String,
      layer: String, stages: Seq[Int])
  final case class Stage(id: Int, var tasks: Int = 0, var runMs: Long = 0,
      var cpuNs: Long = 0, var gcMs: Long = 0, var shuffleW: Long = 0,
      var shuffleR: Long = 0, var spill: Long = 0, var outBytes: Long = 0)
  final case class Exec(at: Long, analysis: Long, optimization: Long,
      planning: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val execs = mutable.ArrayBuffer.empty[Exec]
  var failedTasks = 0L
  /** SQL execution id -> (start, end) in epoch ms, end -1 while running:
    * the listener's own measure of the time an op spends executing. */
  val sqlSpans = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private val execSites = mutable.Map.empty[Long, String]

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); execs.clear(); sqlSpans.clear()
    failedTasks = 0
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      execSites(x.executionId) = x.details
      sqlSpans(x.executionId) = (x.time, -1L)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlSpans.get(x.executionId).foreach { case (st, _) =>
        sqlSpans(x.executionId) = (st, x.time) }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => s.name + "\n" + s.details).getOrElse("")
    val execDetails = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong)).getOrElse("")
    val (site, layer) = Trace.engineFrame(details)
      .orElse(Trace.engineFrame(execDetails))
      .getOrElse((details.linesIterator.nextOption().getOrElse(""), ""))
    jobs += Job(e.jobId, e.time, -1, site, layer, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, Stage(i.stageId))
      s.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleW += m.shuffleWriteMetrics.bytesWritten
        s.shuffleR += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != org.apache.spark.Success) synchronized { failedTasks += 1 }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    // the callback runs later, on the listener bus: place the execution
    // in time by its own phase timestamps
    val at = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    synchronized {
      execs += Exec(at, dur("analysis"), dur("optimization"), dur("planning"))
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

object Trace {
  // a StackTraceElement line, e.g. `app//graft.Pq$.read(Pq.scala:60)`
  private val Frame = """(?:.*/)?(graft\.[\w.$]+)\.[\w$<>]+\(([\w$]+\.scala):\d+\)""".r

  private def layerOf(cls: String): Option[String] = {
    val simple = cls.stripPrefix("graft.").takeWhile(_ != '$')
    simple match {
      case s if s.startsWith("ingest.") || s == "Pipeline" ||
        s == "meta.Tracking" => Some("ingest")
      case s if s.startsWith("ops.Epoch") || s == "ops.Layout" ||
        s.startsWith("plans.Epoch") => Some("store")
      case s if s == "Pq" || s == "Tables" || s.startsWith("sources.") =>
        Some("io")
      case _ => None
    }
  }

  /** (source file of the first engine frame, its layer or "" when the
    * layer is decided by time), if the call site has an engine frame.
    * `details` is a long call-site form: one frame per line, innermost
    * first. */
  def engineFrame(details: String): Option[(String, String)] =
    details.linesIterator.map(_.trim).collectFirst {
      case Frame(cls, file) => (file, layerOf(cls).getOrElse(""))
    }
}
