package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Wall clock in epoch microseconds with nanoTime resolution, so harness
  * spans and Spark's epoch-millisecond job events share one time line.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** One Spark job and the task metrics of its stages. */
final class JobRec(val id: Int, val op: Int, val phase: String,
                   val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var outBytes = 0L
}

/** One harness span: pass, op or phase. Jobs hang below phases. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startUs: Long, endUs: Long)

/** In-memory trace of one benchmark process. The harness opens and closes
  * pass/op/phase spans; the Spark and streaming listeners add jobs, task
  * metrics, written files and micro-batch progress. A job is attributed to
  * the op and phase named in its local properties (set before each call
  * into the program and inherited by threads it starts); a job without them
  * falls back to the op and phase open when it started.
  */
final class Recorder {
  @volatile var curOp: Int = -1
  @volatile var curPhase: String = "none"
  private var nextSpan = 0
  val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val stageSubmitMs = mutable.HashMap[Int, Long]()
  private val fileAccums = mutable.HashSet[Long]()
  private val filesByOp = mutable.HashMap[Int, Long]().withDefaultValue(0L)
  private val batchesByOp =
    mutable.HashMap[Int, mutable.ArrayBuffer[Map[String, Long]]]()

  def reserve(): Int = synchronized { nextSpan += 1; nextSpan }
  def span(id: Int, parent: Int, kind: String, name: String, startUs: Long,
           endUs: Long): Int = synchronized {
    spans += Span(id, parent, kind, name, startUs, endUs)
    id
  }

  def jobsOf(op: Int): Seq[JobRec] = synchronized {
    jobs.values.filter(_.op == op).toSeq
  }
  def filesOf(op: Int): Long = synchronized(filesByOp(op))
  def batchesOf(op: Int): Seq[Map[String, Long]] = synchronized {
    batchesByOp.get(op).map(_.toSeq).getOrElse(Seq.empty)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized {
        val props = Option(e.properties)
        val op = props.flatMap(p => Option(p.getProperty(Recorder.OpKey)))
        val phase = props.flatMap(p => Option(p.getProperty(Recorder.PhaseKey)))
        val rec = new JobRec(e.jobId, op.map(_.toInt).getOrElse(curOp),
          phase.getOrElse(curPhase), e.time)
        jobs(e.jobId) = rec
        e.stageIds.foreach(s => stageJob(s) = rec)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Recorder.this.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Recorder.this.synchronized {
        e.stageInfo.submissionTime.foreach(t =>
          stageSubmitMs(e.stageInfo.stageId) = t)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Recorder.this.synchronized {
        for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.scanBytes += m.inputMetrics.bytesRead
          j.scanRows += m.inputMetrics.recordsRead
          j.outBytes += m.outputMetrics.bytesWritten
          stageSubmitMs.get(e.stageId).foreach(s =>
            j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => noteFileMetrics(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteFileMetrics(s.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates => Recorder.this.synchronized {
        u.accumUpdates.foreach { case (id, v) =>
          if (fileAccums(id)) filesByOp(curOp) += v }
      }
      case _ =>
    }
  }

  private def noteFileMetrics(info: SparkPlanInfo): Unit = synchronized {
    def walk(i: SparkPlanInfo): Unit = {
      i.metrics.foreach(m =>
        if (m.name == "number of written files") fileAccums += m.accumulatorId)
      i.children.foreach(walk)
    }
    walk(info)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val d = e.progress.durationMs
        batchesByOp.getOrElseUpdate(curOp, mutable.ArrayBuffer()) +=
          Seq("triggerExecution", "queryPlanning", "walCommit", "commitOffsets")
            .map(k => k -> (if (d.containsKey(k)) d.get(k).longValue else 0L)).toMap
      }
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
