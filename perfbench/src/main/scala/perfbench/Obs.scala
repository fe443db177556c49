package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer totals of one traced pass. */
final class PassStats {
  var jobs = 0L
  var constructJobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var schedDelayMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var planMs = 0L
  var commitStageMs = 0L
}

/** Spark listener plus query-execution listener feeding the traced run.
  *
  * Totals go to `current` while it is set; the harness sets it for a
  * traced pass and drains the listener bus before reading it, so every
  * event of the pass is counted and none of another pass is. Each job
  * also becomes a `spark.job` span whose parent is the span named by the
  * job's [[Tracer.SpanProp]] local property.
  */
final class Obs(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  @volatile var current: PassStats = null
  @volatile var request: String = ""

  private val jobs = new ConcurrentHashMap[Int, Obs.JobStart]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val st = current
    if (st != null) {
      st.jobs += 1
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).getOrElse(0L)
      if (tracer.nameOf(parent) == Obs.ConstructSpan) st.constructJobs += 1
      jobs.put(e.jobId, Obs.JobStart(parent, e.time, e.stageInfos.size))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobs.remove(e.jobId)
    if (s != null)
      tracer.add(SpanRec(tracer.newId(), "spark.job", s.timeMs * 1000L, e.time * 1000L,
        s.parent, request, Map("job_id" -> e.jobId, "stages" -> s.stages)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val st = current
    if (st != null) {
      val si = e.stageInfo
      st.stages += 1
      if (si.numTasks == 1) st.singleTaskStages += 1
      if (Obs.isCommitSite(si.details))
        for (a <- si.submissionTime; b <- si.completionTime) st.commitStageMs += b - a
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = current
    val m = e.taskMetrics
    if (st != null && m != null) {
      val ti = e.taskInfo
      st.taskCpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.peakExecMemBytes = math.max(st.peakExecMemBytes, m.peakExecutionMemory)
      // the Spark UI's definition: task wall time not spent running,
      // (de)serializing or fetching the result
      if (ti != null && ti.finishTime > 0)
        st.schedDelayMs += math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime)
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val st = current
    if (st != null) st.planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

object Obs {
  private final case class JobStart(parent: Long, timeMs: Long, stages: Int)

  /** Span name of a DataFrame construction call (jobs under it count as
    * construction jobs).
    */
  val ConstructSpan = "query.construct"

  /** Stages whose call site is the lineage output or metrics append. */
  def isCommitSite(details: String): Boolean =
    details != null && details.contains("graft.lineage.ParquetCatalog$.append")
}
