package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory recorder for a traced request: one Spark listener and one
  * query-execution listener that attribute every job, stage, task and
  * Catalyst phase to the request running when it happened.
  *
  * The benchmark has one client thread and drains the listener bus after
  * each traced request, so every event a request causes is handled while
  * [[current]] still names that request. Spans are kept in memory and
  * written when the run ends.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var current: Long = -1L

  /** Counters summed per request. */
  final class Counters {
    var jobs, buildJobs, stages, tasks = 0L
    var runMs, executeRunMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var evictedBlocks = 0L
  }

  private val counters = mutable.LinkedHashMap.empty[Long, Counters]
  private val spans = mutable.ArrayBuffer.empty[String]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageParent = mutable.Map.empty[Int, Int]
  private val stagePhase = mutable.Map.empty[Int, String]

  private def c(req: Long): Counters = counters.getOrElseUpdate(req, new Counters)

  def countersFor(req: Long): Counters = synchronized(c(req))

  /** A span in the trace: `kind` is request, build, execute, job, stage
    * or task; times are epoch microseconds.
    */
  def span(req: Long, kind: String, id: String, parent: String,
      startUs: Long, endUs: Long): Unit = synchronized {
    spans += s"""{"type":"span","req":$req,"kind":"$kind","id":"$id",""" +
      s""""parent":"$parent","start_us":$startUs,"end_us":$endUs}"""
  }

  def spanLines: Seq[String] = synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PhaseKey)))
      .getOrElse("execute")
    val cs = c(current)
    cs.jobs += 1
    if (phase == "build") cs.buildJobs += 1
    e.stageIds.foreach { s => stageParent(s) = e.jobId; stagePhase(s) = phase }
    jobStart(e.jobId) = (e.time, phase)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, phase) =>
      val parent = if (phase == "build") s"r$current.build" else s"r$current.execute"
      span(current, "job", s"j${e.jobId}", parent, t0 * 1000, e.time * 1000)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    c(current).stages += 1
    for (t0 <- si.submissionTime; t1 <- si.completionTime)
      span(current, "stage", s"s${si.stageId}.${si.attemptNumber()}",
        stageParent.get(si.stageId).map(j => s"j$j").getOrElse(""),
        t0 * 1000, t1 * 1000)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val cs = c(current)
    cs.tasks += 1
    val ti = e.taskInfo
    span(current, "task", s"t${ti.taskId}", s"s${e.stageId}.${e.stageAttemptId}",
      ti.launchTime * 1000, ti.finishTime * 1000)
    val m = e.taskMetrics
    if (m != null) {
      cs.runMs += m.executorRunTime
      if (stagePhase.get(e.stageId).contains("execute")) cs.executeRunMs += m.executorRunTime
      cs.cpuNs += m.executorCpuTime
      cs.gcMs += m.jvmGCTime
      cs.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cs.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cs.spill += m.diskBytesSpilled
      cs.input += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && !info.storageLevel.useMemory) c(current).evictedBlocks += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val cs = c(current)
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    cs.analysisMs += ms("analysis")
    cs.optimizationMs += ms("optimization")
    cs.planningMs += ms("planning")
  }
}

object Tracer {
  /** Local property naming the request phase a job belongs to. */
  val PhaseKey = "perfbench.phase"
}
