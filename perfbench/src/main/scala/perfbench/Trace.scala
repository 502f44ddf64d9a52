package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * anchored once so it lines up with the epoch-ms times Spark stamps on
  * its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Local property that ties every Spark job to the benchmark operation
  * whose thread submitted it. */
object OpTag { val Key = "perfbench.op" }

/** One stage as the listener saw it, with its task metrics summed. */
final class StageRec(val stageId: Int, val attempt: Int, val op: String,
    val jobId: Int) {
  var submitted = 0.0
  var completed = 0.0
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var schedDelayMs = 0.0
  var gcMs = 0.0
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillDiskBytes = 0L
  var outputBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Double]
}

final class JobRec(val jobId: Int, val op: String, val start: Double,
    val stageIds: Seq[Int]) {
  var end = 0.0
}

/** Records jobs, stages and task metrics in memory, keyed by the
  * operation tag of the submitting thread. Registered only in traced
  * runs; nothing is written until the run ends. */
final class SparkTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(OpTag.Key)).orNull
    val ids = e.stageInfos.map(_.stageId)
    ids.foreach(stageJob.put(_, e.jobId))
    jobs.put(e.jobId, new JobRec(e.jobId, op, e.time.toDouble, ids))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    val op = Option(e.properties).map(_.getProperty(OpTag.Key)).orNull
    val rec = new StageRec(si.stageId, si.attemptNumber(), op,
      stageJob.getOrDefault(si.stageId, -1))
    rec.submitted = si.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
    stages.put((si.stageId, si.attemptNumber()), rec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stages.get((si.stageId, si.attemptNumber()))).foreach { r =>
      r.completed = si.completionTime.getOrElse(System.currentTimeMillis()).toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get((e.stageId, e.stageAttemptId))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (!e.taskInfo.successful) r.tasksFailed += 1
        val m = e.taskMetrics
        if (m != null) {
          val run = m.executorRunTime.toDouble
          r.runMs += run
          r.taskRunMs += run
          r.cpuMs += m.executorCpuTime / 1e6
          r.gcMs += m.jvmGCTime
          r.schedDelayMs += math.max(0L, e.taskInfo.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - e.taskInfo.gettingResultTime)
          r.inputBytes += m.inputMetrics.bytesRead
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          r.spillDiskBytes += m.diskBytesSpilled
          r.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def stageList: Seq[StageRec] =
    stages.values.asScala.toSeq.sortBy(s => (s.stageId, s.attempt))
}

/** Per-query planning phase times from Spark's QueryPlanningTracker,
  * attributed to the operation running when the event is delivered
  * (the runner drains the listener bus after every traced operation,
  * so no event crosses an operation boundary). */
final class PlanTrace extends QueryExecutionListener {
  @volatile var currentOp: String = null
  val phases = mutable.ArrayBuffer.empty[(String, Map[String, Double])]

  def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    synchronized { phases += ((currentOp, p)) }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}
