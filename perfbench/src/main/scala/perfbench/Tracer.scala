package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark-side half of the traced run: records every job and stage that
  * runs under a benchmark span, from Spark's own listener bus, with no
  * change to the engine. The benchmark tags each op phase with the local
  * property [[Tracer.SpanProp]]; Spark copies local properties onto the
  * threads that adaptive execution submits from, so every job of a phase
  * carries the phase's span id.
  *
  * Each job is attributed to the innermost `graft.*` frame of the call
  * site of its SQL execution (job property `spark.sql.execution.id` →
  * `SparkListenerSQLExecutionStart.details`). Stage call sites alone do not
  * work: stages submitted by adaptive execution carry the call site of a
  * pool thread. Jobs outside any SQL execution fall back to their first
  * stage's call site. A job whose call site has no `graft.*` frame (the
  * benchmark's own action, for one) is `unattributed`. `ops.Layout` is the
  * helper through which operators pin their intermediate results, so a job
  * whose innermost frame is Layout's goes to the module that called it,
  * marked `viaLayout`.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val execModule = new ConcurrentHashMap[Long, (String, Boolean)]()
  val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Long, Stage]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      attribute(e.details).foreach(execModule.put(e.executionId, _))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanProp))).foreach { span =>
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val fromExec = exec.flatMap(id => Option(execModule.get(id)))
      val fromStage = e.stageInfos.sortBy(_.stageId).headOption.flatMap(s => attribute(s.details))
      val (module, viaLayout) = fromExec.orElse(fromStage).getOrElse(Unattributed -> false)
      val j = Job(e.jobId, span.toLong, module, viaLayout, e.time)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageJob.get(info.stageId).foreach { j =>
      stages(key(info)) = Stage(info.stageId, info.attemptNumber(), j.jobId,
        info.submissionTime.getOrElse(System.currentTimeMillis()))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages.get(key(info)).foreach(_.end = info.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId * 1000L + e.stageAttemptId).filter(_ => m != null).foreach { s =>
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakTaskMemBytes = math.max(s.peakTaskMemBytes, m.peakExecutionMemory)
    }
  }

  private def key(info: StageInfo): Long = info.stageId * 1000L + info.attemptNumber()
}

object Tracer {
  val SpanProp = "perfbench.span"
  val Unattributed = "unattributed"

  final case class Job(jobId: Int, parent: Long, module: String, viaLayout: Boolean,
      start: Long) {
    var end: Long = start
  }

  final case class Stage(stageId: Int, attempt: Int, jobId: Int, start: Long) {
    var end: Long = start
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var peakTaskMemBytes = 0L
  }

  val Layout = "ops.Layout"

  /** The module of a call site and whether it was reached through
    * [[Layout]]: the class of the innermost `graft.` frame, without the
    * package root and any `$` suffix (`graft.ops.Triangles$.count(...)` →
    * `ops.Triangles`), or, when that frame is Layout's, of the innermost
    * frame outside Layout.
    */
  def attribute(callSite: String): Option[(String, Boolean)] = {
    val modules = Option(callSite).toSeq.flatMap(_.split("\n"))
      .map { f => val m = f.trim.takeWhile(_ != '('); m.substring(m.lastIndexOf('/') + 1) }
      .filter(_.startsWith("graft."))
      .map(_.split('.').dropRight(1).mkString(".").stripPrefix("graft.").takeWhile(_ != '$'))
    val viaLayout = modules.headOption.contains(Layout)
    modules.find(_ != Layout).orElse(modules.headOption).map(_ -> viaLayout)
  }
}
