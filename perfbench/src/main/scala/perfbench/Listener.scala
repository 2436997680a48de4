package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Cumulative Spark runtime counters. Snapshots are subtracted to
  * attribute work to a phase; read them only after draining the bus. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskMs: Long = 0,
    taskCpuNs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
    spill: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, taskCpuNs - o.taskCpuNs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill)
}

/** One finished job or stage, for the span tree. A job's `group` is the
  * job group the call tagged its phase with; a stage's `parentJob` is the
  * job that ran it. */
final case class RunSpan(kind: String, id: Int, parentJob: Int, group: String,
                         startMs: Long, endMs: Long)

/** The benchmark's own listener. Every callback runs on the listener bus
  * thread; the caller reads state after `PerfbenchBridge.drainListenerBus`,
  * and the methods synchronize so those reads see every update. */
final class Listener extends SparkListener {
  private var totals = Counters()
  private var peakTaskMem = 0L
  private val jobGroup = mutable.Map[Int, (String, Long)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskDurations = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val finished = mutable.ArrayBuffer[RunSpan]()
  private val persisted = mutable.Set[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = (group, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      finished += RunSpan("job", e.jobId, -1, g, start, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    totals = totals.copy(stages = totals.stages + 1)
    si.rddInfos.filter(_.storageLevel.isValid).foreach(r => persisted += r.id)
    val job = stageJob.getOrElse(si.stageId, -1)
    finished += RunSpan("stage", si.stageId, job, "",
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    totals = totals.copy(tasks = totals.tasks + 1)
    if (m != null) {
      totals = totals.copy(
        taskMs = totals.taskMs + m.executorRunTime,
        taskCpuNs = totals.taskCpuNs + m.executorCpuTime,
        shuffleWrite = totals.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = totals.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = totals.spill + m.diskBytesSpilled)
      peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
    }
    taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
  }

  def counters: Counters = synchronized(totals)

  /** Peak execution memory of one task since the last call. */
  def takePeakTaskMem(): Long = synchronized {
    val p = peakTaskMem
    peakTaskMem = 0
    p
  }

  /** Jobs and stages finished since the last call. */
  def takeFinished(): Seq[RunSpan] = synchronized {
    val out = finished.toList
    finished.clear()
    out
  }

  /** RDD ids seen persisted in a finished stage since the last call. */
  def takePersisted(): Set[Int] = synchronized {
    val out = persisted.toSet
    persisted.clear()
    out
  }

  /** Slowest / median task duration of the stage with the most task
    * time among those run since the last call. */
  def takeSkew(): Double = synchronized {
    val heaviest = taskDurations.values.filter(_.nonEmpty).maxByOption(_.sum)
    taskDurations.clear()
    heaviest.map { d =>
      val s = d.sorted
      val med = s(s.length / 2).toDouble
      if (med > 0) s.last / med else 1.0
    }.getOrElse(1.0)
  }
}
