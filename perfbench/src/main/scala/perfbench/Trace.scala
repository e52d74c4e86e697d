package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 for a root); spans of one operation share
  * `op`. Times are epoch milliseconds for Spark spans and nanoTime-
  * derived milliseconds (same epoch) for harness spans. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startMs: Double, endMs: Double)

/** Task-level sums attributed to one (op, phase). */
final class TaskSums {
  var tasks = 0L
  var runMs = 0.0
  var cpuNs = 0.0
  var deserMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0.0
  var shuffleRead = 0.0
  var spill = 0.0
  var input = 0.0
  var output = 0.0
  var maxTaskMs = 0.0
}

/** Per-stage record: its job and op, times (epoch ms) and task count. */
final case class StageRec(stageId: Int, jobId: Int, op: Long, startMs: Double, endMs: Double,
    tasks: Int)

/** Per-job record: which op and phase submitted it, and its call site. */
final case class JobRec(jobId: Int, op: Long, phase: String, callSite: String,
    startMs: Long, var endMs: Long = -1L)

/** Attributes Spark jobs, stages and tasks to the harness's operations
  * through the local properties the harness sets before each phase
  * (`perfbench.op`, `perfbench.phase`); Spark copies them into every
  * job the thread submits. Spans and counts stay in memory. */
final class Tracer extends SparkListener {
  import Tracer._
  private val lock = new Object
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  val sums = mutable.HashMap[(Long, String), TaskSums]()
  /** stage id -> task durations (ms), for the straggler ratio */
  private val stageTasks = mutable.HashMap[Int, mutable.ArrayBuffer[Double]]()
  val stages = mutable.ArrayBuffer[StageRec]()
  /** op -> max over its stages of slowest task / median task */
  val straggler = mutable.HashMap[Long, Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val p = e.properties
    val op = Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong).getOrElse(0L)
    val phase = Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("none")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, op, phase, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val job = stageJob.get(e.stageId).flatMap(jobs.get)
    // schema-inference jobs get their own phase so build sums exclude them
    val key = job.map(j => (j.op, if (Tracer.isSchemaJob(j)) "schema" else j.phase))
      .getOrElse((0L, "none"))
    val s = sums.getOrElseUpdate(key, new TaskSums)
    s.tasks += 1
    s.runMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.deserMs += m.executorDeserializeTime
    s.gcMs += m.jvmGCTime
    s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
    s.input += m.inputMetrics.bytesRead
    s.output += m.outputMetrics.bytesWritten
    s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration.toDouble)
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration.toDouble
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    val jobId = stageJob.getOrElse(info.stageId, -1)
    val op = jobs.get(jobId).map(_.op).getOrElse(0L)
    val durs = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer()).sorted
    if (durs.nonEmpty) {
      val med = durs(durs.length / 2)
      val ratio = durs.last / math.max(med, 1.0)
      straggler(op) = math.max(straggler.getOrElse(op, 1.0), ratio)
    }
    stages += StageRec(info.stageId, jobId, op, info.submissionTime.getOrElse(0L).toDouble,
      info.completionTime.getOrElse(0L).toDouble, info.numTasks)
  }

  def snapshot[A](f: Tracer => A): A = lock.synchronized(f(this))
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  def isSchemaJob(j: JobRec): Boolean = j.callSite.contains("Tables.scala")
}
